package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch aggregates — the 100 TB path for distinct counts and
  * quantiles.
  *
  * Exact `count(distinct x)` shuffles every distinct value to a
  * reducer; exact `percentile` collects every value per group. Both
  * have state proportional to the data. Sketches replace that with
  * FIXED-SIZE mergeable state (HLL registers, KLL/GK summaries), so the
  * aggregation is a map-side partial + one small shuffle regardless of
  * cardinality — the only shape that survives a 100 TB distinct-URL or
  * length-distribution profile.
  *
  * Error contracts: HyperLogLog++ distinct counts carry relative
  * standard deviation `rsd` (Spark caps rsd ≥ 0.4% ≈ 32KB of
  * registers); `percentile_approx(accuracy)` has rank error
  * ≤ 1/accuracy of the row count.
  *
  * The SQL-surface twin for EXACT distinct/percentile profiling already
  * exists (q03/q63); these are the drop-in approximate replacements, so
  * they're exposed through `queries()` rows-only (a cross-engine hash
  * oracle would pin two engines' sketch internals, not semantics).
  */
object Sketches {

  /** One-pass corpus profile: distinct sketches + quantile summaries for
    * several columns in a single aggregation (one shuffle total).
    *
    * Quantiles come out as SCALAR `chars_q50` / `chars_q90` columns (not
    * one array column): downstream tabular consumers — including the
    * driver's pandas row check — sort/hash on columns, and an
    * array-typed cell breaks that contract. Both percentiles still share
    * one underlying summary per group (same agg, one shuffle).
    */
  def corpusProfile(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        approx_count_distinct(col("source"), 0.01).as("nd_sources"),
        approx_count_distinct(col("doc_id"), 0.01).as("nd_docs"),
        percentile_approx(col("n_chars"), array(lit(0.5), lit(0.9)),
          lit(10000)).as("chars_q"))
      .withColumn("chars_q50", element_at(col("chars_q"), 1))
      .withColumn("chars_q90", element_at(col("chars_q"), 2))
      .drop("chars_q")

  /** Approximate heavy hitters (frequent values) of `valueCol` via a
    * Count-Min Sketch (Cormode & Muthukrishnan 2005) — the third sketch
    * family next to HLL (distincts) and KLL (quantiles): FREQUENCIES.
    *
    * Why not exact `groupBy(value).count().orderBy(desc)`: at 100 TB
    * the shuffle carries one row per DISTINCT value (billions for
    * tokens/URLs). The sketch path is ONE pass with fixed-size state:
    * each task folds its values into a local CMS (`depth×width`
    * counter grid — eps→width=⌈2/eps⌉, ~160 KB at eps=1e-4 regardless
    * of cardinality) plus local exact counts; `treeAggregate` merges
    * pairs EXECUTOR-SIDE (CMS merge is cell-wise addition; candidate
    * maps merge by sum and re-cap to the top entries — any value with
    * global share > 1/candidatesPerPartition is a local top-cpp
    * somewhere, so true heavy hitters cannot be missed, and counts
    * only grow under merge so capping after summation keeps them);
    * the driver then probes the ONE merged sketch for global estimates
    * of the bounded candidate set and returns top-`k` by estimate.
    *
    * CMS guarantees estimate ≥ true count, and ≤ true + eps·N with
    * probability `confidence` — pinned by SketchesSpec against the
    * exact counts. Exposed rows-only (q108): the estimates depend on
    * Spark's CMS hash seeds, which a cross-engine oracle can't replay;
    * the exact twin for the same question is q77 (vocab top-k). */
  def heavyHitters(df: DataFrame, valueCol: String, k: Int = 20,
                   eps: Double = 0.0001, confidence: Double = 0.99,
                   candidatesPerPartition: Int = 200): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(col(valueCol).cast("string").as("v"))
      .filter(col("v").isNotNull).as[String]

    // ONE pass: each task folds its values into a local sketch + local
    // exact counts; treeAggregate merges pairs EXECUTOR-SIDE (CMS
    // merge is cell-wise addition; candidate maps merge by sum and are
    // re-capped to the top candidates, which preserves the recall
    // argument because counts only grow under merge). The driver
    // receives one sketch and one bounded candidate map — never a
    // per-partition collect.
    type Acc = (CountMinSketch, scala.collection.mutable.HashMap[String, Long])
    def cap(m: scala.collection.mutable.HashMap[String, Long],
            limit: Int): scala.collection.mutable.HashMap[String, Long] =
      if (m.size <= limit) m
      else scala.collection.mutable.HashMap(
        m.toSeq.sortBy { case (v, n) => (-n, v) }.take(limit): _*)
    val zero: Acc = (CountMinSketch.create(eps, confidence, 42),
      new scala.collection.mutable.HashMap[String, Long]())
    val (sketch, localTop) = vals.rdd.treeAggregate(zero)(
      seqOp = { case ((sk, counts), v) =>
        sk.addString(v)
        counts.update(v, counts.getOrElse(v, 0L) + 1L)
        (sk, counts)
      },
      combOp = { case ((ska, ca), (skb, cb)) =>
        ska.mergeInPlace(skb)
        cb.foreach { case (v, n) =>
          ca.update(v, ca.getOrElse(v, 0L) + n) }
        (ska, cap(ca, candidatesPerPartition * 4))
      })

    // candidate set is bounded; probe the merged sketch for GLOBAL
    // estimates (>= the partial sums the capped map carries)
    val top = cap(localTop, candidatesPerPartition * 4).keys.toSeq
      .map(v => (v, sketch.estimateCount(v)))
      .sortBy { case (v, n) => (-n, v) }
      .take(k)
    spark.createDataFrame(top).toDF(valueCol, "est_n")
      .orderBy(col("est_n").desc, col(valueCol))
  }

  /** EXACT twin of [[corpusProfile]] — same columns, exact
    * `count(distinct)` + interpolated `percentile` (the Spark/DuckDB
    * shared linear-interpolation definition, q63). State grows with
    * cardinality, so this is the verification/small-SF path that
    * anchors the sketch profile's semantics cross-engine; the sketch
    * variant is the 100 TB path. 4dp rounding on the percentiles makes
    * the doubles hash-exact against the oracle. */
  def corpusProfileExact(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("nd_sources"),
        countDistinct(col("doc_id")).as("nd_docs"),
        round(expr("percentile(n_chars, 0.5)"), 4).as("chars_q50"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("chars_q90"))
}
