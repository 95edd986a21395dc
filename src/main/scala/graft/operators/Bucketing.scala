package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table co-location (SURVEY §7 scale notes; the cluster-scale
  * answer to repeated large joins and aggregations on a stable key).
  *
  * Writing both sides of a hot join bucketed (and sorted) by the join
  * key makes every later equi-join and groupBy on that key SHUFFLE-FREE:
  * the scan's output partitioning already satisfies the operator's
  * distribution requirement, so Catalyst plans a sort-merge join with no
  * Exchange on either side. At 100 TB this converts the dominant
  * repeated cost (full-table shuffle per join) into a one-time cost at
  * write. BucketingSpec pins the no-Exchange plan shape.
  *
  * Bucket-count guidance: size buckets so one bucket ≈ one task's
  * comfortable working set (128–512 MB); both sides need the same
  * bucket count (or a divisor) for co-location.
  *
  * Measured (BASELINE.md round 9, "q06 layout A/B": q06's
  * orders⋈customer at the 128× inflation, warm best-of-3):
  * co-bucketed SMJ 1.69 s and
  * bucketed scan + broadcast 1.49 s vs 1.97–2.21 s for the same join
  * over flat parquet — ~25% from layout alone on a single join, on
  * top of removing the per-join shuffle that dominates when the key
  * is hot across a workload.
  *
  * Since round 10 the claim is re-measured EVERY round, not one-shot:
  * the bench 128× leg times a `q06_bucketed` extra from fingerprinted
  * external tables (Bench.q06Bucketed → [[ensureExternalBucketed]];
  * first in-protocol sample 1.19 s vs 1.80 s flat), and the 512×
  * crossover carries the same sibling (CROSSOVER_r10: 2.10/2.25 s vs
  * 6.1–6.7 s flat — the layout is the q06 scale answer; the flat
  * ratio is the one honest non-faller, a broadcast-probe per-row
  * constant per the r8 strategy A/B).
  */
object Bucketing {

  /** Persist `df` as a managed parquet table bucketed and sorted by
    * `key` — the one-time co-location investment. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Equi-join of two co-bucketed tables on their bucket key; with both
    * sides bucketed identically this plans with zero Exchange. */
  def cobucketedJoin(spark: SparkSession, left: String, right: String,
                     key: String): DataFrame =
    spark.table(left).join(spark.table(right), Seq(key))

  /** Idempotent EXTERNAL bucketed table: writes `df` bucketed+sorted
    * by `key` to `location` once (guarded by a `fingerprint` marker
    * next to the data); later sessions RE-REGISTER the persisted
    * location (CREATE TABLE ... CLUSTERED BY ... LOCATION) instead of
    * rewriting — a fresh JVM's in-memory catalog forgets table names,
    * not data (the round-9 layout A/B's lesson: an existence check
    * against the in-memory catalog is dead code across JVMs). `df` is by-name so
    * the cached path never constructs the source plan. */
  def ensureExternalBucketed(spark: SparkSession, df: => DataFrame,
                             table: String, key: String, buckets: Int,
                             location: String,
                             fingerprint: String): Unit = {
    val locF = new java.io.File(location)
    require(locF.getParentFile != null,
      s"ensureExternalBucketed: location '$location' needs a parent " +
        "directory (the fingerprint marker lives next to the data)")
    val marker = new java.io.File(locF.getParentFile, s"_${table}_FP")
    val want = s"$fingerprint;key=$key;buckets=$buckets"
    val cached = marker.exists() &&
      java.nio.file.Files.readString(marker.toPath) == want &&
      locF.isDirectory
    if (cached) {
      if (!spark.catalog.tableExists(table))
        spark.sql(s"CREATE TABLE $table (${df.schema.toDDL}) " +
          s"USING parquet CLUSTERED BY ($key) SORTED BY ($key) " +
          s"INTO $buckets BUCKETS " +
          s"LOCATION '${locF.getAbsolutePath}'")
    } else {
      if (marker.exists()) marker.delete()
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(locF)
      locF.getParentFile.mkdirs()
      df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
        .option("path", locF.getAbsolutePath).format("parquet")
        .saveAsTable(table)
      java.nio.file.Files.writeString(marker.toPath, want)
    }
  }
}
