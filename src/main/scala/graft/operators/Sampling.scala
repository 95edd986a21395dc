package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling and split assignment.
  *
  * `df.sample()` draws from a seeded RNG whose result depends on
  * partitioning — re-runs, repartitions, or cluster-size changes move
  * rows in and out of the sample. Keying the decision on a HASH of a
  * stable id makes samples reproducible anywhere, and threshold-based
  * membership makes them NESTED: sampleByHash(0.1) ⊂ sampleByHash(0.5)
  * on the same key, so a pilot corpus grows into the full one without
  * resampling (the property SamplingSpec pins). md5 keeps the bucket
  * engine-portable (oracle-exact in DuckDB).
  */
object Sampling {

  /** Uniform bucket in [0, 2³²) from the md5 of the key's string form. */
  def hashBucket(key: Column): Column =
    conv(substring(graft.plans.FastMd5.column(key.cast("string")), 1, 8),
      16, 10).cast("long")

  /** Keep rows whose bucket falls below `fraction` of the bucket space
    * — a stable, nested `fraction`-sample. */
  def sampleByHash(df: DataFrame, keyCol: String,
                   fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    df.filter(hashBucket(col(keyCol)) <
      math.round(fraction * 4294967296.0))
  }

  /** Keep at most `k` rows per group, chosen deterministically by hash
    * order (bucket, then key as tiebreak) — the "cap documents per
    * domain" downsampling a pretraining mix needs. Hash order makes the
    * kept set stable across runs AND nested in `k`: capPerGroup(10) ⊂
    * capPerGroup(100) for the same group. One shuffle on the group key;
    * rank-within-group never materializes more than the group's rows on
    * a reducer. */
  def capPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                  k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(hashBucket(col(keyCol)), col(keyCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
  }

  /** Deterministic corpus mixing: keep each group at its target
    * retention rate (`weights`: group value → keep fraction; groups
    * absent from the map keep `defaultWeight`). Membership is the same
    * nested hash threshold as [[sampleByHash]], so a mix is stable
    * across runs and monotone in its weights — raising one group's
    * weight only ADDS docs, never reshuffles the kept set. This is the
    * downsampling half of a pretraining mix (upsampling = emitting
    * repeat epochs downstream); a map-side filter, no shuffle at all. */
  def mixByWeights(df: DataFrame, groupCol: String, keyCol: String,
                   weights: Map[String, Double],
                   defaultWeight: Double = 1.0): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(w =>
      w >= 0 && w <= 1), "weights must be in [0,1]")
    val threshold = weights.foldLeft(
      lit(math.round(defaultWeight * 4294967296.0))) {
      case (acc, (g, w)) =>
        when(col(groupCol) === g, lit(math.round(w * 4294967296.0)))
          .otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol)) < threshold)
  }

  /** α-temperature mixture (the multilingual-pretraining reweight:
    * group sampling mass ∝ n_g^α). α=1 reproduces the natural
    * distribution (a plain uniform sample), α→0 flattens toward equal
    * mass per group; 0<α<1 upsamples tail groups' SHARE by keeping more
    * of them relative to the head. Each group's keep-fraction is
    * min(1, total·sampleFraction·p_g / n_g) with p_g = n_g^α / Σ n^α —
    * never duplicating rows (upsampling beyond 1.0 is epoch repetition,
    * a downstream concern). Membership reuses the nested md5-hash
    * threshold, so the mix is deterministic, engine-portable
    * (oracle-exact), and monotone in `sampleFraction`. Cost: one tiny
    * group-count aggregate broadcast back — the corpus itself only
    * streams through a map-side filter. */
  def temperatureMix(df: DataFrame, groupCol: String, keyCol: String,
                     alpha: Double,
                     sampleFraction: Double): DataFrame = {
    require(alpha >= 0 && alpha <= 1, "alpha must be in [0,1]")
    require(sampleFraction >= 0 && sampleFraction <= 1,
      "sampleFraction must be in [0,1]")
    // null groups are a real group (unknown language ≠ droppable): an
    // equi-join would silently lose them while their rows still inflate
    // the total, so group on a null-sentinel key instead
    val gk = coalesce(col(groupCol).cast("string"), lit("\u0001null"))
    val tagged = df.withColumn("_gk", gk)
    val counts = tagged.groupBy(col("_gk"))
      .agg(count(lit(1)).cast("double").as("_n"))
    val norms = counts.agg(sum(pow(col("_n"), alpha)).as("_z"),
      sum(col("_n")).as("_total"))
    val frac = least(lit(1.0),
      pow(col("_n"), alpha) / col("_z") * col("_total") *
        sampleFraction / col("_n"))
    // round like every other threshold here (math.round semantics) so
    // α=1 is EXACTLY sampleByHash and mixes nest against hash pilots
    tagged.join(broadcast(counts.crossJoin(norms)), Seq("_gk"))
      .filter(hashBucket(col(keyCol)) < round(frac * 4294967296.0, 0))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** The upsampling half of a pretraining mix ([[mixByWeights]] /
    * [[temperatureMix]] are the downsampling half): materialize
    * per-group repeat epochs. A weight w ≥ 0 yields floor(w) full
    * copies of every row plus one extra copy for the deterministic
    * hash-fraction frac(w) of keys — so the group's expected volume is
    * exactly w× its size, rows are never fabricated (each emitted row
    * is a (row, epoch) pair, epoch ∈ [1, repeats]), and re-runs emit
    * the identical tape. Map-side generate; no shuffle. */
  def upsampleByWeights(df: DataFrame, groupCol: String, keyCol: String,
                        weights: Map[String, Double],
                        defaultWeight: Double = 1.0): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0),
      "weights must be non-negative")
    def repeatsFor(w: Double): Column = {
      val base = math.floor(w).toLong
      val frac = w - base
      lit(base) + when(
        hashBucket(col(keyCol)) < math.round(frac * 4294967296.0), 1L)
        .otherwise(0L)
    }
    val repeats = weights.foldLeft(repeatsFor(defaultWeight)) {
      case (acc, (g, w)) =>
        when(col(groupCol) === g, repeatsFor(w)).otherwise(acc)
    }
    df.withColumn("_r", repeats)
      .filter(col("_r") > 0)
      .withColumn("epoch",
        explode(sequence(lit(1L), col("_r"))))
      .drop("_r")
  }

  /** train/val/test label from the bucket's percent residue — the
    * reproducible split a training pipeline needs (chronological splits
    * live in graft.ml.ChronoSplit; this is the i.i.d. variant). */
  def assignSplit(key: Column, trainPct: Int = 80,
                  valPct: Int = 10): Column = {
    require(trainPct + valPct <= 100, "train+val must be <= 100")
    val pct = hashBucket(key) % 100
    when(pct < trainPct, "train")
      .when(pct < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Uniformity audit of the hash splitter itself: bucket the key
    * space into `buckets` via the SAME md5 arithmetic the splits use,
    * then the chi-square statistic against uniform — each cell's
    * `(o·B − n)²·B/(n·B²)` reduced to the exact bridge
    * `(o·B − n)²/(n·B)` in scaled longs. A biased key population
    * (e.g. ids sharing a suffix) shows here before it skews every
    * downstream split. */
  def splitUniformity(df: DataFrame, keyCol: String,
                      buckets: Int = 10): DataFrame = {
    val b = lit(buckets.toLong)
    val cells = df.select((hashBucket(col(keyCol)) % buckets)
        .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("o"))
    val tot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val withN = cells.withColumn("n", sum(col("o")).over(tot)
      .cast("long"))
    val dev = col("o") * b - col("n")
    withN.select(col("bucket"), col("o").as("n_keys"),
      graft.functions.ExactRound.ratio(col("n"), b, 4).as("expected"),
      graft.functions.ExactRound.ratio(
        dev.cast("decimal(38,0)") * dev,
        col("n").cast("decimal(38,0)") * b, 4).as("chi2_term"))
  }

  /** STRATIFIED split with EXACT proportions: within each label, rank
    * rows in deterministic pseudo-random order (md5 of the key — the
    * same digest both engines order identically) and cut the first
    * ⌈fraction·n⌉ as train. Unlike [[assignSplit]]'s per-row residue
    * (proportions only in expectation), every class lands its exact
    * ceil count — what imbalanced-label evaluation needs. One window
    * per label (single shuffle on the label key). */
  def stratifiedSplit(df: DataFrame, labelCol: String, keyCol: String,
                      trainFraction: Double = 0.8): DataFrame = {
    require(trainFraction > 0 && trainFraction <= 1.0,
      "trainFraction must be in (0, 1]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(labelCol))
      .orderBy(graft.plans.FastMd5.column(col(keyCol).cast("string")),
        col(keyCol))
    df.withColumn("_rk", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(labelCol))))
      .withColumn("split",
        when(col("_rk") <= ceil(col("_n") * lit(trainFraction)), "train")
          .otherwise("test"))
      .drop("_rk", "_n")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    * 2006, "Weighted random sampling with a reservoir"): each row
    * draws u ∈ (0,1] from the md5 of (seed|key) and the sample is the
    * global top-`k` by u^(1/w) — here ranked by the monotone-equivalent
    * ln(u)/w DESC, so a row's selection odds are proportional to its
    * weight without replacement. The pretraining use case: subsample a
    * corpus length-proportionally (weight = token count) so the byte
    * budget lands on long documents without keeping them all.
    *
    * Deterministic and engine-portable: u is (52-bit md5 prefix + 1) /
    * 2⁵², an exact power-of-two division both engines represent
    * identically; ln is the q87-established cross-engine bridge; ties
    * break on the key. The plan is Spark's TakeOrderedAndProject —
    * per-partition top-k then a k-row merge, never a global sort.
    * Rows with weight <= 0 are excluded (E-S requires w > 0). */
  def weightedSample(df: DataFrame, k: Int, weightCol: String,
                     keyCol: String, seed: Long = 42L): DataFrame = {
    require(k > 0, "k must be positive")
    val u = (conv(substring(md5(concat_ws("|", lit(seed.toString),
      col(keyCol).cast("string"))), 1, 13), 16, 10).cast("double") + 1) /
      lit(4503599627370496.0) // 2^52
    df.filter(col(weightCol) > 0)
      .withColumn("_es", log(u) / col(weightCol).cast("double"))
      .orderBy(col("_es").desc, col(keyCol))
      .limit(k)
      .drop("_es")
  }

  /** Epoch-shuffled shard manifest for a training run: every doc is
    * assigned, per epoch, a shard by the md5 bucket of (epoch:key) —
    * a fresh deterministic permutation each epoch with NO global sort
    * (pure map; the per-shard training order is the hash itself,
    * sortable within partitions at write time). The manifest reports
    * docs and whitespace tokens per (epoch, shard) — the balance check
    * run before launching data loaders. One bounded hash aggregate
    * (epochs × shards groups) over a map-side ×epochs expansion. */
  def shardManifest(docs: DataFrame, epochs: Int, shards: Int,
                    keyCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(epochs > 0 && shards > 0, "epochs and shards must be > 0")
    val base = docs.select(col(keyCol),
      graft.functions.TextFns.tokenCount(col(textCol)).cast("long")
        .as("n_tok"))
    base
      .withColumn("epoch",
        explode(sequence(lit(0L), lit(epochs - 1L))))
      .withColumn("shard",
        (hashBucket(concat(col("epoch").cast("string"), lit(":"),
          col(keyCol).cast("string"))) % shards).cast("long"))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
  }
}
