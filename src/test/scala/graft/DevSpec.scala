package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The program has four entry points: `Bench` (timing), `Verify`
  * (correctness dump), the CLI, and `Dev` for every measurement or
  * inspection tool. A new tool is a `Dev` subcommand, not another
  * main, and `src/main` holds no object or public member that none of
  * them reaches. */
class DevSpec extends AnyFunSuite {

  private def files(d: java.io.File): Seq[java.io.File] =
    d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) files(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)

  private val mainRoot = new java.io.File("src/main/scala")

  /** A scaladoc link or a comment is not a caller. */
  private def isCode(line: String): Boolean =
    !Seq("//", "*", "/*").exists(line.trim.startsWith)

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
    def code(src: String): String =
      src.linesIterator.filter(isCode).mkString("\n")
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

  /** Public members no entry point names, each with the reason it
    * stays in `src/main`. */
  private val callerlessMembers = Map(
    "registerViews" -> ("the SQL-first entry point: every fixture " +
      "table as a temp view, paired with GraftExtensions"),
    "writeBucketed" -> ("the managed-table form of the bucketed layout " +
      "Bench's q06 extra reads; BucketingSpec builds its tables with it"),
    "encodeBmp" -> ("fixture builder for the BMP decode PixelDecoder " +
      "runs"),
    "slackSlaMiss" -> ("the reference's SLA-miss payload, byte-pinned " +
      "by AlertsSpec; no verb has an SLA to miss yet"),
    "explained" -> ("PcaModel's variance-explained fractions: part of " +
      "the fitted model's result, read by PcaSpec"))

  test("every public def and nested object under src/main/scala that " +
    "is not an override is named on another code line, or is " +
    "allowlisted with a reason") {
    assert(mainRoot.isDirectory, mainRoot.getAbsolutePath)
    val sources = files(mainRoot)
    val named = sources ++ files(new java.io.File("perfbench/src"))
    val linesOf = named.map(f => f -> read(f).linesIterator.toVector).toMap
    // modifiers that keep a member public; private, protected and
    // override lines never match
    val member = ("""^(\s*)(?:(?:final|implicit|lazy|case)\s+)*""" +
      """(def|object)\s+(\w+)""").r
    val defs = sources.flatMap { f =>
      linesOf(f).zipWithIndex.flatMap { case (l, i) =>
        member.findFirstMatchIn(l).collect {
          case m if m.group(2) == "def" || m.group(1).nonEmpty =>
            (f, i, m.group(3))
        }
      }
    }.filterNot(_._3 == "main")
    // every code line each identifier appears on
    val word = """\w+""".r
    val seenOn: Map[String, Seq[(java.io.File, Int)]] = named.flatMap { g =>
      linesOf(g).zipWithIndex.filter(x => isCode(x._1)).flatMap {
        case (l, j) => word.findAllIn(l).toSeq.distinct
          .map(_ -> (g, j))
      }
    }.groupMap(_._1)(_._2)
    val orphans = defs.filter { case (f, i, n) =>
      seenOn.getOrElse(n, Nil).forall(_ == (f, i))
    }
    assert(orphans.map(_._3).toSet == callerlessMembers.keySet,
      "caller-less members: " + orphans.map { case (f, i, n) =>
        s"${f.getPath}:${i + 1} $n" }.sorted.mkString(", "))
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
