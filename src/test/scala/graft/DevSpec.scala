package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The program has four entry points: `Bench` (timing), `Verify`
  * (correctness dump), the CLI, and `Dev` for every measurement or
  * inspection tool. A new tool is a `Dev` subcommand, not another
  * main, and `src/main` holds no object that none of them reaches. */
class DevSpec extends AnyFunSuite {

  private def files(d: java.io.File): Seq[java.io.File] =
    d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) files(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)

  private val mainRoot = new java.io.File("src/main/scala")

  /** The objects of `src` that own a `def main(`: the innermost object
    * declared before each main. */
  private def mainOwners(src: String): Seq[String] =
    """def main\(""".r.findAllMatchIn(src).map { m =>
      """\bobject\s+(\w+)""".r.findAllMatchIn(src.substring(0, m.start))
        .map(_.group(1)).toSeq.lastOption.getOrElse("?")
    }.toSeq

  test("exactly Bench, Verify, cli.Main and Dev define a main under " +
    "src/main/scala") {
    assert(mainRoot.isDirectory, mainRoot.getAbsolutePath)
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val mains = files(mainRoot).flatMap { f =>
      val src = read(f)
      val p = pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      mainOwners(src).map(p + _)
    }.toSet
    assert(mains == Set("graft.Bench", "graft.Verify", "graft.cli.Main",
      "graft.Dev"))
  }

  /** Top-level objects no entry point can reach, each with the reason
    * it stays in `src/main`. */
  private val callerless = Map(
    "PriceSource" -> ("the reference's Extract stage: the seam a live " +
      "price fetcher implements, with the wide-to-long unpivot it needs"))

  test("every top-level object under src/main/scala that is not a " +
    "class companion and defines no main is named by another file, " +
    "or is allowlisted with a reason") {
    assert(mainRoot.isDirectory, mainRoot.getAbsolutePath)
    val sources = files(mainRoot)
    val named = sources ++ files(new java.io.File("perfbench/src"))
    // code lines only: a scaladoc link or a comment is not a caller
    def code(src: String): String = src.linesIterator
      .filterNot(l => Seq("//", "*", "/*").exists(l.trim.startsWith))
      .mkString("\n")
    val codeOf = named.map(f => f -> code(read(f))).toMap
    val mods = """(?m)^(?:(?:private|final|case|sealed|abstract)\s+)*"""
    val orphans = sources.flatMap { f =>
      val src = read(f)
      def companion(n: String) =
        (mods + """class\s+""" + n + """\b""").r.findFirstIn(src).nonEmpty
      (mods + """object\s+(\w+)""").r.findAllMatchIn(src).map(_.group(1))
        .filter { n =>
          !companion(n) && !mainOwners(src).contains(n) &&
            !named.exists(g => g != f &&
              ("""\b""" + n + """\b""").r.findFirstIn(codeOf(g)).nonEmpty)
        }
    }.toSet
    assert(orphans == callerless.keySet,
      s"caller-less objects: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("an unknown Dev subcommand fails before any session starts, " +
    "with a usage line listing every subcommand") {
    val before = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    for (args <- Seq(Array("no-such-tool"), Array.empty[String])) {
      val e = intercept[IllegalArgumentException](Dev.main(args))
      Seq("crossover", "funnel-profile", "funnel-scale",
        "stream-throughput", "scale", "inflate", "explain", "smoke")
        .foreach(c => assert(e.getMessage.contains(c), e.getMessage))
    }
    assert((SparkSession.getActiveSession, SparkSession.getDefaultSession)
      == before)
  }
}
