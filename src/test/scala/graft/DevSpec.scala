package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The program has four entry points: `Bench` (timing), `Verify`
  * (correctness dump), the CLI, and `Dev` for every measurement or
  * inspection tool. A new tool is a `Dev` subcommand, not another
  * main. */
class DevSpec extends AnyFunSuite {

  test("exactly Bench, Verify, cli.Main and Dev define a main under " +
    "src/main/scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val obj = """\bobject\s+(\w+)""".r
    val mains = files(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val p = pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      """def main\(""".r.findAllMatchIn(src).map { m =>
        // the innermost object declared before the main
        val owner = obj.findAllMatchIn(src.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("?")
        p + owner
      }
    }.toSet
    assert(mains == Set("graft.Bench", "graft.Verify", "graft.cli.Main",
      "graft.Dev"))
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
