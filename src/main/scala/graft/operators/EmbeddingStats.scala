package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Group-level embedding-space diagnostics: per-group centroids and
  * their pairwise geometry — the embedding-drift report next to the
  * token-space [[CorpusOverlap]] (two sources can share vocabulary yet
  * embed far apart, and a label whose centroid wanders between corpus
  * versions signals an upstream encoder change).
  *
  * Scale shape: the centroid aggregate is a partial-agg groupBy over
  * (group, dim) rows — map-side combine reduces each task to
  * groups×dim partials, so the shuffle carries kilobytes regardless of
  * corpus size. The pairwise stage runs on the k centroids only
  * (broadcast self-join).
  *
  * Determinism (the q87 decimal scheme): per-element values are
  * 6dp-rounded into DECIMAL(28,6) and summed exactly; the mean is then
  * one double division of identical inputs on both engines — the q128
  * hash oracle replays it in SQL.
  */
object EmbeddingStats {

  private def dec6(c: Column): Column = round(c, 6).cast("decimal(28,6)")

  /** Element-wise mean vector per group, exploded as (group, i, c):
    * exact decimal sums, one double division, 6dp. */
  def groupCentroids(df: DataFrame, groupCol: String = "label",
                     vecCol: String = "embedding"): DataFrame = {
    df.select(col(groupCol).as("g"),
        posexplode(Similarity.asDouble(col(vecCol))).as(Seq("i", "x")))
      .groupBy(col("g"), col("i").cast("long").as("i"))
      .agg(count(lit(1)).as("n"), sum(dec6(col("x"))).as("_sx"))
      // mean in exact integer arithmetic: the micro-lifted decimal sum
      // divided half-away-from-zero (round() of the double quotient is
      // engine-dependent when sum/n terminates on the 7th-decimal tie
      // — hit at sf0.1)
      .select(col("g"), col("i"), col("n"),
        graft.functions.ExactRound.signedRatio(
          (col("_sx") * 1000000).cast("long"), col("n"), 0)
          .divide(lit(1000000.0)).as("c"))
  }

  /** Embedding L2-norm profile with per-label outlier flags — the
    * "corrupt/degenerate vector" data-quality check (zeroed rows,
    * unnormalized batches, encoder regressions all show up as norm
    * outliers). Exactness: norms come from exact 6dp-decimal squares;
    * the per-label moments lift the 6dp-rounded norms into DECIMAL and
    * compute variance as `(n·Σx² − (Σx)²)/(n(n−1))` — an EXACT decimal
    * numerator, so no float aggregation order anywhere before the two
    * final deterministic doubles. The label-moment table is bounded →
    * broadcast join back. */
  def normOutliers(df: DataFrame, zThreshold: Double = 3.0,
                   idCol: String = "vec_id",
                   labelCol: String = "label",
                   vecCol: String = "embedding"): DataFrame = {
    val sq = df.select(col(idCol), col(labelCol),
        explode(Similarity.asDouble(col(vecCol))).as("x"))
      .groupBy(col(idCol), col(labelCol))
      .agg(sum(dec6(col("x") * col("x"))).as("_ssq"))
    val normed = sq.select(col(idCol), col(labelCol),
      round(sqrt(col("_ssq").cast("double")), 6).as("norm"))
    // micro-scaled LONG norms → the variance numerator n·Σm² − (Σm)²
    // is EXACT integer arithmetic with no decimal-scale rounding (the
    // fixture's unit-normalized vectors put all the signal in the 6th
    // decimal — any scale cap would eat it)
    val lifted = normed.withColumn("m6",
      (col("norm").cast("decimal(19,6)") * 1000000).cast("long"))
    val moments = lifted.groupBy(col(labelCol))
      .agg(count(lit(1)).as("n"), sum(col("m6")).as("s"),
        sum(col("m6").cast("decimal(38,0)") * col("m6")).as("ssq"))
      .select(col(labelCol), col("n"),
        (col("s").cast("double") / col("n") / 1000000).as("mu"),
        // n = 1 → undefined; identical norms → sd 0; both null the z
        when(col("n") > 1,
          sqrt((col("n") * col("ssq")
              - col("s").cast("decimal(38,0)") * col("s"))
            .cast("double")
            / (col("n") * (col("n") - 1)).cast("double")) / 1000000)
          .as("sd"))
    val z = (col("norm") - col("mu")) / nullif(col("sd"), lit(0.0))
    normed.join(broadcast(moments), Seq(labelCol))
      .select(col(idCol), col(labelCol), col("norm"),
        round(z, 4).as("norm_z"),
        coalesce(abs(z) >= zThreshold, lit(false)).as("is_outlier"))
  }

  /** Corpus-version embedding drift: cosine and L2 distance between
    * the centroid of the FIRST id-half and the SECOND id-half of the
    * corpus — the "did the encoder (or the data) move?" one-row check
    * next to the value-space PSI ([[Drift.psi]]).
    *
    * Exactness: per-dim sums are 6dp-decimal lifts scaled to micro
    * LONGS; cosine is computed on the SUM vectors (the 1/n scales
    * cancel), so every product/sum up to the final two doubles is
    * exact integer arithmetic (DECIMAL(38,0) here, HUGEINT in the
    * oracle); L2 of the mean difference clears denominators the same
    * way via (sa·n_b − sb·n_a). Scale: one (half, dim) partial-agg
    * pass — the shuffle carries 2×dims rows regardless of corpus
    * size; the final fold is dims rows. */
  def centroidDrift(df: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val ext = df.agg(min(col(idCol)).as("lo"), max(col(idCol)).as("hi"))
    val tagged = df.crossJoin(broadcast(ext))
      .withColumn("half",
        when(col(idCol) <= (col("lo") + col("hi")) / 2, lit("a"))
          .otherwise(lit("b")))
    val sums = tagged.select(col("half"),
        posexplode(Similarity.asDouble(col(vecCol))).as(Seq("i", "x")))
      .groupBy(col("half"), col("i"))
      .agg(count(lit(1)).as("n"),
        (sum(dec6(col("x"))) * 1000000).cast("long").as("s6"))
    val a = sums.where(col("half") === "a")
      .select(col("i"), col("s6").as("sa6"), col("n").as("na"))
    val b = sums.where(col("half") === "b")
      .select(col("i"), col("s6").as("sb6"), col("n").as("nb"))
    val d = col("sa6") * col("nb") - col("sb6") * col("na")
    val g = a.join(b, Seq("i")).agg(
      max(col("na")).as("n_first"), max(col("nb")).as("n_second"),
      sum(col("sa6").cast("decimal(38,0)") * col("sb6")).as("dot"),
      sum(col("sa6").cast("decimal(38,0)") * col("sa6")).as("naa"),
      sum(col("sb6").cast("decimal(38,0)") * col("sb6")).as("nbb"),
      sum(d.cast("decimal(38,0)") * d).as("d2"))
    g.select(col("n_first"), col("n_second"),
      round(col("dot").cast("double")
        / sqrt(col("naa").cast("double") * col("nbb").cast("double")), 4)
        .as("cosine"),
      round(sqrt(col("d2").cast("double"))
        / (col("n_first").cast("double") * col("n_second") * 1000000), 6)
        .as("l2_shift"))
  }

  /** Point-to-centroid squared distances, the shared base of
    * [[silhouette]] and [[daviesBouldin]]: every (point, cluster-K)
    * pair carries `q = Σ_i (x6·n_K − S6_{K,i})²` held in DECIMAL —
    * the EXACT scaled integer `d²·(n_K·10⁶)²` (centroids never
    * materialize as lossy doubles; the denominators cancel inside
    * sqrt at the end). Fan-out is points × dims × clusters — linear
    * in the corpus with a bounded cluster count, and the centroid
    * table (clusters × dims) broadcasts. */
  private def pointClusterDist(df: DataFrame, idCol: String,
      vecCol: String, labelCol: String): DataFrame = {
    val ex = df.select(col(idCol).as("id"),
        col(labelCol).cast("long").as("own"),
        posexplode(Similarity.asDouble(col(vecCol))).as(Seq("i", "x")))
      .withColumn("x6", (dec6(col("x")) * 1000000).cast("long"))
    val cent = ex.groupBy(col("own").as("k"), col("i"))
      .agg(count(lit(1)).cast("long").as("nk"),
        (sum(dec6(col("x"))) * 1000000).cast("long").as("s6"))
    val diff = col("x6") * col("nk") - col("s6")
    ex.join(broadcast(cent), Seq("i"))
      .groupBy(col("id"), col("own"), col("k"), col("nk"))
      .agg(sum(diff.cast("decimal(38,0)") * diff).as("q"))
      .withColumn("d",
        sqrt(col("q").cast("double")) /
          (col("nk").cast("double") * 1000000))
  }

  /** Simplified (centroid-based) silhouette per cluster: for each
    * point `a` = distance to its own centroid, `b` = distance to the
    * nearest other centroid, `s = (b−a)/max(a,b)`. All distances come
    * off the exact-integer q's above; the nearest-other choice is
    * tie-broken by cluster id, so the argmin is deterministic. One
    * bounded-fan-out join + two hash aggregates. */
  def silhouette(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val pc = pointClusterDist(df, idCol, vecCol, labelCol)
    val a = pc.where(col("k") === col("own"))
      .select(col("id"), col("own"), col("d").as("a"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("d").asc, col("k").asc)
    val b = pc.where(col("k") =!= col("own"))
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("id"), col("d").as("b"))
    a.join(b, Seq("id"))
      .withColumn("s",
        (col("b") - col("a")) / nullif(greatest(col("a"), col("b")),
          lit(0.0)))
      // per-point doubles are deterministic (√ of exact ints); their
      // MEANS go through 6dp scaled longs so the sum is order-free
      .withColumn("a6", (dec6(col("a")) * 1000000).cast("long"))
      .withColumn("s6", (dec6(col("s")) * 1000000).cast("long"))
      .groupBy(col("own").as("label"))
      .agg(count(lit(1)).cast("long").as("n_points"),
        sum(col("a6")).cast("long").as("sa6"),
        sum(col("s6")).cast("long").as("ss6"))
      .select(col("label"), col("n_points"),
        graft.functions.ExactRound.ratio(col("sa6"),
          col("n_points") * 100L, 0).divide(lit(10000.0))
          .as("mean_dist"),
        graft.functions.ExactRound.signedRatio(col("ss6"),
          col("n_points") * 100L, 0).divide(lit(10000.0))
          .as("silhouette"))
  }

  /** Nearest-centroid classification accuracy per label (training-set
    * resubstitution — each point's own vector is inside its centroid):
    * prediction is the argmin centroid distance (ties → lowest label)
    * off the same exact-integer q's as [[silhouette]]. Linear, the
    * scale path of the kNN probe. */
  def centroidClassify(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val pc = pointClusterDist(df, idCol, vecCol, labelCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("d").asc, col("k").asc)
    pc.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .groupBy(col("own").as("label"))
      .agg(count(lit(1)).cast("long").as("n_points"),
        sum(when(col("k") === col("own"), 1L).otherwise(0L))
          .cast("long").as("n_correct"))
      .select(col("label"), col("n_points"), col("n_correct"),
        graft.functions.ExactRound.ratio(col("n_correct"),
          col("n_points"), 4).as("accuracy"))
  }

  /** Davies-Bouldin readout per cluster: scatter `σ_L` = mean distance
    * of the cluster's points to its centroid, separation
    * `M_LK = ‖c_L − c_K‖` from the exact cross-moment
    * `Σ_i (S_L·n_K − S_K·n_L)²`, and `DB_L = max_{K≠L} (σ_L+σ_K)/M_LK`
    * with the argmax partner (lower = better separated). The global DB
    * index is the mean of the per-cluster rows. Centroid table is
    * bounded — the pairwise stage is clusters², broadcast. */
  def daviesBouldin(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val pc = pointClusterDist(df, idCol, vecCol, labelCol)
    // exact order-free mean distance: 6dp scaled longs, one division
    val sig = pc.where(col("k") === col("own"))
      .withColumn("d6", (dec6(col("d")) * 1000000).cast("long"))
      .groupBy(col("own").as("l"))
      .agg(count(lit(1)).cast("long").as("n_points"),
        sum(col("d6")).cast("long").as("sd6"),
        (sum(col("d6")).cast("double") /
          (count(lit(1)) * 1000000)).as("sigma"))
    val cent = df.select(col(labelCol).cast("long").as("k"),
        posexplode(Similarity.asDouble(col(vecCol))).as(Seq("i", "x")))
      .groupBy(col("k"), col("i"))
      .agg(count(lit(1)).cast("long").as("nk"),
        (sum(dec6(col("x"))) * 1000000).cast("long").as("s6"))
    val a = cent.select(col("k").as("ka"), col("i"),
      col("nk").as("na"), col("s6").as("sa"))
    val b = cent.select(col("k").as("kb"), col("i"),
      col("nk").as("nb"), col("s6").as("sb"))
    val cross = col("sa") * col("nb") - col("sb") * col("na")
    val m = a.join(b, Seq("i")).where(col("ka") =!= col("kb"))
      .groupBy(col("ka"), col("kb"), col("na"), col("nb"))
      .agg(sum(cross.cast("decimal(38,0)") * cross).as("q"))
      .withColumn("m", sqrt(col("q").cast("double")) /
        (col("na").cast("double") * col("nb") * 1000000))
    val sa = sig.select(col("l").as("ka"), col("n_points"),
      col("sd6").as("sda6"), col("sigma").as("siga"))
    val sb = sig.select(col("l").as("kb"), col("sigma").as("sigb"))
    val r = m.join(broadcast(sa), Seq("ka"))
      .join(broadcast(sb), Seq("kb"))
      .withColumn("r", (col("siga") + col("sigb")) / col("m"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ka")).orderBy(col("r").desc, col("kb").asc)
    r.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("ka").as("label"), col("n_points"),
        // σ display off the exact scaled sum (the raw double is the
        // 6dp decimal — the round(,4) tie class)
        graft.functions.ExactRound.ratio(col("sda6"),
          col("n_points") * 100L, 0).divide(lit(10000.0)).as("sigma"),
        col("kb").as("worst_neighbor"),
        round(col("r"), 4).as("db_ratio"))
  }
}
