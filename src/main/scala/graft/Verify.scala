package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: run only these queries (local iteration)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // run-private, process-STABLE ML stage key: set before any query
    // runs so the q47/q48 staging writes and the oracle_sql.json dump
    // below resolve the same path — and so a subset re-run into the
    // same outDir re-points the dump at the stage the full run wrote
    sys.props(graft.queries.MLQueries.StageKeyProp) = outDir
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a PREVIOUS run's parquet in
        // place — the checker would grade the stale result as current
        // (bit a q92 analysis error during round 8: the row read OK
        // against week-old output)
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"$outDir/$name"))
      }
    }
    def q(s: String): String = JsonUtil.quote(s)
    // staging-path substitution: oracle strings are static, the ML
    // prediction stage is keyed per sfDir — resolve the token to the
    // same path the queries just wrote for THIS sfDir
    val stage = graft.queries.MLQueries.stageDir(sfDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(graft.queries.MLQueries.StageToken, stage))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
