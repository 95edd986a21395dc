package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize key-shifted N× copies of the fixture tables as
  * MULTI-ROW-GROUP, multi-file parquet — the amortized-scale bench input.
  *
  * The driver fixtures are single-row-group files, so a Spark scan of
  * them cannot split (parallelism 1 per table) and the ~0.2 s/query
  * planning floor dominates the 21-query bench at sf0.1 (BASELINE.md).
  * Inflating 32× with shifted keys (cardinality grows with volume, the
  * production shape — same scheme as ScaleCheck) and writing 32 MB row
  * groups across `cpus` files gives both engines a scan that actually
  * parallelizes, so the comparison measures per-row throughput, not
  * session constants.
  *
  *   SPARK_GRAFT_SCALE=32 sbt 'runMain graft.Dev inflate /tmp/graft_sf32'
  *
  * Foreign keys shift consistently with their referenced primary keys
  * (orders.o_custkey moves with customer.c_custkey, lineitem.l_suppkey
  * with supplier.s_suppkey, …) so every join in the headline set keeps
  * its selectivity. nation/region stay 1× — real dimension tables don't
  * grow with fact volume.
  */
object InflateFixtures {

  /** (table, shift per copy) for every key column; columns absent from
    * the map copy through unchanged. */
  val keyShifts: Map[String, Map[String, Long]] = Map(
    "customer" -> Map("c_custkey" -> 10000000L),
    "orders" -> Map("o_orderkey" -> 10000000L, "o_custkey" -> 10000000L),
    "lineitem" -> Map("l_orderkey" -> 10000000L,
      "l_partkey" -> 1000000L, "l_suppkey" -> 1000000L),
    "supplier" -> Map("s_suppkey" -> 1000000L),
    "part" -> Map("p_partkey" -> 1000000L),
    "events" -> Map("event_id" -> 1000000000L, "user_id" -> 1000000L),
    "documents" -> Map("doc_id" -> 1000000L),
    "embeddings" -> Map("vec_id" -> 1000000L))

  /** `mult` key-shifted copies of `df`, shifting the key columns of
    * fixture table `table` per [[keyShifts]]. */
  def inflate(spark: SparkSession, df: DataFrame, table: String,
              mult: Int): DataFrame = {
    val shifts = keyShifts.getOrElse(table, Map.empty[String, Long])
    val copies = spark.range(mult).select(col("id").as("_copy"))
    df.crossJoin(copies)
      .select(df.columns.map { c =>
        shifts.get(c) match {
          case Some(step) =>
            (col(c) + col("_copy") * step).cast(df.schema(c).dataType).as(c)
          case None => col(c)
        }
      }.toIndexedSeq: _*)
  }

  /** What an inflated fixture dir was built from. Written to
    * [[FingerprintFile]] at materialize time and compared by reusers
    * ([[ensure]]): a _SUCCESS-only completeness check silently
    * reuses a stale cache after the source dir, multiplier, layout, or
    * the key-shift scheme changes — cross-round bench ratios would then
    * compare different inputs while claiming the same leg. */
  def fingerprint(sfDir: String, mult: Int, cpus: Int): String =
    s"src=$sfDir;mult=$mult;cpus=$cpus;shifts=" +
      keyShifts.toSeq.sortBy(_._1).map { case (t, m) =>
        t + ":" + m.toSeq.sortBy(_._1)
          .map { case (c, s) => s"$c=$s" }.mkString(",")
      }.mkString("|")

  val FingerprintFile = "_GRAFT_FINGERPRINT"

  /** Write all inflated tables under `outDir` — from [[ensure]] or
    * `Dev inflate`. The fingerprint marker is written LAST, so a run
    * that dies mid-write leaves a cache that reads as incomplete, never
    * as current. */
  def materialize(spark: SparkSession, sfDir: String, outDir: String,
                  mult: Int, cpus: Int): Unit = {
    val marker = new java.io.File(outDir, FingerprintFile)
    if (marker.exists()) marker.delete() // invalidate before rewrite
    Tables.names.foreach { name =>
      val base = Tables.table(spark, sfDir, name)
      val out =
        if (name == "region" || name == "nation") base // dims stay 1×
        else inflate(spark, base, name, mult)
      val files = if (name == "region" || name == "nation") 1 else cpus
      out.repartition(files)
        .write.mode("overwrite")
        // 32 MB row groups: several groups per file, so scans split and
        // min/max pruning has real granularity in BOTH engines
        .option("parquet.block.size", (32L << 20).toString)
        .parquet(s"$outDir/$name.parquet")
      println(s"[inflate] $name -> $outDir/$name.parquet")
    }
    java.nio.file.Files.writeString(marker.toPath,
      fingerprint(sfDir, mult, cpus))
  }

  /** Reuse the inflation under `dir` when its fingerprint matches
    * (sfDir, mult, cpus), materialize it otherwise, then set shuffle
    * partitions = cpus (the measured shape on the inflated fixtures)
    * and warm every table. Returns the fingerprint, which keys caches
    * derived from this inflation (Bench's bucketed q06 tables). */
  def ensure(spark: SparkSession, sfDir: String, dir: String, mult: Int,
             cpus: Int): String = {
    val want = fingerprint(sfDir, mult, cpus)
    val marker = new java.io.File(dir, FingerprintFile)
    val complete = Tables.names.forall(n =>
      new java.io.File(s"$dir/$n.parquet/_SUCCESS").exists()) &&
      marker.exists() &&
      java.nio.file.Files.readString(marker.toPath) == want
    if (!complete) {
      System.err.println(
        s"[inflate] materializing $dir at ${mult}x (one-time)")
      materialize(spark, sfDir, dir, mult, cpus)
    }
    spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
    Tables.warm(spark, dir)
    want
  }
}
