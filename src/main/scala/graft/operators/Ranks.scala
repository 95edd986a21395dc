package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, NumericType, TimestampType}

/** Scale-safe replacements for unpartitioned (single-task) analytic
  * windows — the r13 burn-down of `WindowExec: No Partition Defined`
  * on corpus/fact-scale frames.
  *
  * All helpers use the two-phase parallel-scan shape proven in
  * [[BudgetSelect.distributedPrefixSum]]:
  *
  *   1. assign each row a RANGE BUCKET id that is monotone along the
  *      total order (contiguous key ranges),
  *   2. per-bucket local running sums via a window PARTITIONED by the
  *      bucket id — all buckets in parallel,
  *   3. per-bucket totals (a bucket-count-sized tiny frame) get their
  *      own prefix sum and come back as broadcast offsets.
  *
  * CRUCIALLY the bucket id is a PURE FUNCTION OF THE ROW: ~4×
  * parallelism approximate quantiles of the first sort key are probed
  * once at plan-construction time (one extra parallel pass, nothing
  * materialized) and embedded as literals, and the id is "how many
  * boundaries precede this key". A `repartitionByRange` +
  * `spark_partition_id()` formulation is NOT safe here: the offsets
  * subtree and the running-sum subtree are separate (differently
  * pruned) executions of the same frame, and the range partitioner's
  * sampled boundaries can legally differ between them — observed
  * under AQE as off-by-a-few global ranks (an 11th ntile(10) bucket).
  * Literal boundaries make both branches agree by construction; their
  * quality only affects balance, never values.
  *
  * Results are bit-identical to the single-partition forms for any
  * tie-free total order (include a unique id in `order`); the
  * running-sum variant tolerates ties exactly where the original did
  * (the multiset of outputs is invariant within a tie run — equal
  * keys always share a bucket).
  *
  * The first `order` column must be numeric, date or timestamp (every
  * current caller orders on counts, micro-unit longs or double scores;
  * anything else is rejected). Its double image is only used for
  * BUCKETING and is monotone, so ties introduced by the cast stay
  * within one bucket and the exact within-bucket sort still uses the
  * original columns.
  */
object Ranks {

  /** Monotone-along-the-order bucket id expression + the bucket count
    * hint, from construction-time quantile literals of the first sort
    * key. */
  private def bucketExpr(df: DataFrame, order: Seq[Column],
                         parallelism: Int): Column = {
    val (key, asc, nullsFirst) =
      org.apache.spark.sql.graftbridge.Bridge.sortOrderOf(order.head)
    // the double cast must preserve the key's order: a string key
    // would bucket by its numeric reading (or fail to parse) while the
    // within-bucket sort orders lexicographically — silently wrong ranks
    val keyType = df.select(key).schema.head.dataType
    require(keyType match {
      case _: NumericType | DateType | TimestampType => true
      case _ => false
    }, s"the first sort key must be numeric, date or timestamp; got " +
      s"${keyType.simpleString} for $key")
    // dates have no double cast; their day number orders the same way
    val k = (if (keyType == DateType) unix_date(key) else key)
      .cast("double")
    val nb = math.min(512, math.max(parallelism * 4, 4))
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    val bounds0 = df.select(k.as("__k")).stat
      .approxQuantile("__k", probs, 0.01)
      .filter(b => !b.isNaN).distinct.sorted.toSeq
    val bounds = if (asc) bounds0 else bounds0.reverse
    val nonNull = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(if (asc) k >= lit(b) else k <= lit(b), 1).otherwise(0)
    }
    // null keys sort entirely before/after every boundary; give them
    // their own end bucket mirroring the sort's null placement
    if (nullsFirst) when(k.isNull, lit(0)).otherwise(nonNull + 1)
    else when(k.isNull, lit(bounds.length + 1)).otherwise(nonNull)
  }

  /** Adds one or more running sums (inclusive, rows-frame) over the
    * TOTAL order `order`, without a single-partition window.
    * `values` maps output column name → summed expression.
    * `totals` maps value name → an extra output column carrying that
    * value's GRAND total on every row (replacing `sum(x) OVER ()`,
    * which would be another single-partition window). */
  def prefixSums(df: DataFrame, order: Seq[Column],
                 values: Seq[(String, Column)],
                 totals: Map[String, String] = Map.empty,
                 numPartitions: Int = 0): DataFrame = {
    require(values.nonEmpty, "need at least one value to sum")
    require(totals.keySet.subsetOf(values.map(_._1).toSet),
      "totals must reference value names")
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val bucketed = df.withColumn("__pid", bucketExpr(df, order, n))
    val localW = Window.partitionBy(col("__pid"))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = values.foldLeft(bucketed) { case (d, (name, v)) =>
      d.withColumn(s"__lc_$name", sum(v).over(localW))
    }
    // per-bucket totals: a bucket-count-sized frame — the one tiny
    // single-partition window in the job
    val aggs = values.map { case (name, v) => sum(v).as(s"__pt_$name") }
    val offsets0 = bucketed.groupBy(col("__pid"))
      .agg(aggs.head, aggs.tail: _*)
    val offW = Window.orderBy(col("__pid"))
    val totW = offW.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val offsets = values.foldLeft(offsets0) { case (d, (name, _)) =>
        d.withColumn(s"__off_$name",
          coalesce(sum(col(s"__pt_$name")).over(
            offW.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .withColumn(s"__tot_$name",
            sum(col(s"__pt_$name")).over(totW))
      }
      .select(col("__pid") +: values.flatMap { case (name, _) =>
        Seq(col(s"__off_$name"), col(s"__tot_$name")) }: _*)
    val joined = local.join(broadcast(offsets), Seq("__pid"))
    val withCums = values.foldLeft(joined) { case (d, (name, _)) =>
      d.withColumn(name, col(s"__off_$name") + col(s"__lc_$name"))
    }
    val withTots = totals.foldLeft(withCums) {
      case (d, (valueName, totName)) =>
        d.withColumn(totName, col(s"__tot_$valueName"))
    }
    withTots.drop(
      "__pid" +: values.flatMap { case (name, _) =>
        Seq(s"__lc_$name", s"__off_$name", s"__tot_$name") }: _*)
  }

  /** Adds `rkCol` = row_number() (as LONG) over the tie-free TOTAL
    * order `order` (plus, optionally, `totalCol` = the frame's row
    * count on every row) without a single-partition window. */
  def distributedRowNumber(df: DataFrame, order: Seq[Column],
                           rkCol: String, totalCol: String = "")
      : DataFrame =
    prefixSums(df, order, Seq(rkCol -> lit(1L)),
      if (totalCol.nonEmpty) Map(rkCol -> totalCol)
      else Map.empty[String, String])

  /** Adds `outCol` = ntile(buckets) over the tie-free TOTAL order
    * `order`, computed scale-safely: the bucket of row i among N rows
    * is a closed-form function of (i, N) — with N = q·b + r, the
    * first r buckets hold q+1 rows, the rest q — so a distributed
    * row_number plus the broadcast total replaces the global ntile
    * window exactly (same INT type as ntile). When N < b the padded
    * branch covers every row (q = 0), matching ntile's one-row
    * buckets. */
  def distributedNtile(df: DataFrame, order: Seq[Column], buckets: Int,
                       outCol: String): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1; got $buckets")
    val rk = s"__rk_$outCol"
    val tot = s"__n_$outCol"
    val b = lit(buckets.toLong)
    val q = call_function("div", col(tot), b)
    val r = col(tot) % b
    val cut = r * (q + lit(1L)) // rows 1..cut fill the padded buckets
    val bucket = when(col(rk) <= cut,
        call_function("div", col(rk) + q, q + lit(1L)))
      .otherwise(r + call_function("div",
        col(rk) - cut + q - lit(1L), q))
    distributedRowNumber(df, order, rk, tot)
      .withColumn(outCol, bucket.cast("int"))
      .drop(rk, tot)
  }
}
