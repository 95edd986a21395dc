package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** `TextFns.lower`/`upper` ([[graft.plans.AsciiFirstCaseMap]]) against
  * Spark's builtins: the same output for every input class, collation,
  * ICU case-mapping setting and evaluation mode; and the ICU table
  * Spark's case mapping builds stays unbuilt for ASCII input. */
class CaseMapSpec extends SparkSuite {

  private val inputs: Seq[String] = Seq(
    "Hello, World 42", "MiXeD_case-ASCII ~!", "Ünïcödé Ñandú ÀÉÎÕÜ ÿ",
    "straße STRASSE", "İstanbul IĞDIR ısparta", "ΟΔΥΣΣΕΥΣ σοφός ΣΟΦΟΣ",
    "emoji 😀 Smile 👍🏽", "", null)

  /** The inputs plus invalid UTF-8 byte strings, read back from parquet
    * so no optimizer rule folds the projection away. */
  private lazy val path: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_casemap").resolve("t")
      .toString
    inputs.toDF("s")
      .union(Seq("48C328FF61", "C0AF41E282", "ED9FBF61FFFE")
        .toDF("h").select(unhex(col("h")).cast("string")))
      .write.parquet(dir)
    dir
  }

  private val collations =
    Seq("UTF8_BINARY", "UTF8_LCASE", "UNICODE", "UNICODE_CI", "tr", "el")

  private def withConfs[T](kv: (String, String)*)(f: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def pairs(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = collations.flatMap { c =>
      val s = collate(col("s"), c)
      Seq(TextFns.lower(s), lower(s), TextFns.upper(s), upper(s))
    }
    df.select(cols.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*)
  }

  test("equals Spark's lower/upper on every input, collation and ICU " +
    "setting, generated and interpreted") {
    for (icu <- Seq("true", "false"); codegen <- Seq(true, false)) {
      val modes =
        if (codegen) Seq("spark.sql.codegen.wholeStage" -> "true",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
          "spark.sql.codegen.fallback" -> "false")
        else Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      withConfs(("spark.sql.icu.caseMappings.enabled" -> icu) +: modes: _*) {
        val df = pairs(spark.read.parquet(path))
        val plan = df.queryExecution.executedPlan
        assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) == codegen)
        val rows = df.collect()
        assert(rows.length == inputs.size + 3)
        rows.foreach { r =>
          (0 until r.length by 2).foreach { i =>
            assert(r.getString(i) == r.getString(i + 1),
              s"icu=$icu codegen=$codegen column $i")
          }
        }
      }
    }
  }

  test("an ASCII-only pass leaves Spark's ICU case-mapping class " +
    "uninitialized; the first non-ASCII row initializes it") {
    val javaBin = ProcessHandle.current().info().command().get()
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = (javaBin +: opens.toSeq) ++ Seq("-Xmx1g", "-cp",
      System.getProperty("java.class.path"), "graft.IcuColdProbe")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0, out)
    val probes = out.linesIterator.filter(_.startsWith("[probe]")).toSeq
    assert(probes == Seq("[probe] ascii rows=3 initialized=false",
      "[probe] non-ascii rows=1 initialized=true"), out)
  }
}

/** Forked by [[CaseMapSpec]]: a fresh JVM case-maps ASCII rows, then one
  * non-ASCII row, and prints whether `CollationAwareUTF8String` (whose
  * static initializer builds ICU's title-case table) was initialized
  * after each. */
object IcuColdProbe {
  private val unsafe = {
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    f.get(null).asInstanceOf[sun.misc.Unsafe]
  }

  private def initialized: Boolean = !unsafe.shouldBeInitialized(
    Class.forName("org.apache.spark.sql.catalyst.util.CollationAwareUTF8String",
      false, getClass.getClassLoader))

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def mapped(xs: Seq[String]): Int =
      xs.toDF("s").repartition(1)
        .select(TextFns.lower(col("s")), TextFns.upper(col("s")))
        .collect().length
    val ascii = mapped(Seq("Positive", "NEUTRAL", "negative"))
    println(s"[probe] ascii rows=$ascii initialized=$initialized")
    val other = mapped(Seq("Ärger"))
    println(s"[probe] non-ascii rows=$other initialized=$initialized")
    spark.stop()
  }
}
