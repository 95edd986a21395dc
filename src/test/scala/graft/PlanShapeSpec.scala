package graft

/** Plan-shape regression pins: the properties that make the queries
  * scale (column pruning into the parquet scan, predicate pushdown,
  * broadcast of small dims) are asserted on the PLAN, not inferred from
  * timings — a refactor that silently drops one fails here long before
  * it shows up at 100 TB.
  */
class PlanShapeSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("array-argument native expressions compare by content, so two " +
    "independently built identical probes canonicalize equal (the " +
    "property CSE and exchange reuse key off)") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    import org.apache.spark.sql.graftbridge.Bridge
    import graft.plans._
    // Bloom: two serializations of the same filter, distinct arrays
    val df = spark.range(100).toDF("id")
    val bf1 = df.stat.bloomFilter(xxhash64(col("id")), 100, 0.01)
    val bf2 = df.stat.bloomFilter(xxhash64(col("id")), 100, 0.01)
    val probe = Bridge.expression(xxhash64(col("id")))
    val b1 = BloomMightContain(probe, BloomFns.serialize(bf1))
    val b2 = BloomMightContain(probe, BloomFns.serialize(bf2))
    assert(b1.filterBytes ne b2.filterBytes) // distinct array instances
    assert(b1 == b2 && b1.hashCode == b2.hashCode)
    // SignedProject: same seed, independently materialized sign arrays
    val child = Bridge.expression(col("v"))
    val s1 = SignedProject(child,
      graft.operators.Similarity.jlSigns(4, 8).flatten.map(_.toByte).toArray, 8)
    val s2 = SignedProject(child,
      graft.operators.Similarity.jlSigns(4, 8).flatten.map(_.toByte).toArray, 8)
    assert((s1.signs ne s2.signs) && s1 == s2 && s1.hashCode == s2.hashCode)
    assert(s1.semanticEquals(s2))
    // PqEncode: independently materialized identical codebooks
    val q1 = PqEncode(child, Array(1.0, 2.0, 3.0, 4.0), Array(2), 2)
    val q2 = PqEncode(child, Array(1.0, 2.0, 3.0, 4.0), Array(2), 2)
    assert((q1.books ne q2.books) && q1 == q2 &&
      q1.hashCode == q2.hashCode && q1.semanticEquals(q2))
    assert(PqEncode(child, Array(1.0, 2.0, 3.0, 4.5), Array(2), 2) != q1)
  }

  test("q01 splits into two pruned scans: the keyless-agg branch never " +
    "reads l_suppkey, the distinct branch reads ONLY it") {
    val p = plan("q01_global_agg")
    val schemas = p.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(schemas.size == 2, s"expected two scans, got:\n$p")
    val main = schemas.find(_.contains("l_quantity")).getOrElse("")
    assert(main.contains("l_extendedprice") &&
      main.contains("l_shipdate") && !main.contains("l_suppkey"))
    val distinct = schemas.find(!_.contains("l_quantity")).getOrElse("")
    assert(distinct.contains("l_suppkey") &&
      !distinct.contains("l_extendedprice"))
    schemas.foreach(s => assert(!s.contains("l_comment") &&
      !s.contains("l_orderkey")))
  }

  test("q51 pushes its predicates into the parquet scan") {
    val p = plan("q51_filter_combo")
    assert(p.contains("PushedFilters: ["))
    val pushed = p.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.length > "PushedFilters: []".length + 10,
      s"expected non-empty pushdown, got: $pushed")
  }

  test("q26 pushes the cheap null guard to the scan and evaluates " +
    "from_json exactly once") {
    val p = plan("q26_json_extract")
    assert(p.contains("PushedFilters: [IsNotNull(props)"))
    assert(p.linesIterator.count(_.contains("from_json")) <= 1)
  }

  test("q06 broadcasts both dimension sides of the 3-way join") {
    val p = plan("q06_join3")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q18 is the r13 FUSED single-scan shape: one events scan, no " +
    "join at all (bars and sentiment share the per-(user,day,type) " +
    "aggregate)") {
    val p = plan("q18_fact_sentiment")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"expected ONE scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"),
      s"fused q18 must not join:\n$p")
  }

  test("q71 mix is a pure map-side filter: zero Exchange (the sort in " +
    "the query surface is presentation, not a shuffle requirement)") {
    import org.apache.spark.sql.functions.col
    // the operator itself, pre-orderBy: must add no exchange at all
    val mixed = graft.operators.Sampling.mixByWeights(
      Tables.documents(spark, dir).select("doc_id", "lang"),
      "lang", "doc_id", Map("en" -> 0.5))
    val p = mixed.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
  }

  test("q66 cap and q72 packing cost exactly one Exchange (the window " +
    "key partition)") {
    Seq("q66_source_cap", "q72_pack").foreach { q =>
      val body = SparkEntry.queries(q)(spark, dir)
      // strip the presentation orderBy's range exchange by counting
      // only hash partitionings
      val p = body.queryExecution.executedPlan.toString
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashEx == 1, s"$q expected one hash exchange:\n$p")
    }
  }

  test("q68 rollup is one Expand + one aggregation exchange — never " +
    "three scans unioned") {
    val p = plan("q68_rollup")
    assert(p.contains("Expand"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1)
    assert(!p.contains("Union"))
  }

  test("int8 quantization is a pure map-side projection (no Exchange) " +
    "and quantized kNN broadcasts the query side like the float path") {
    val q = graft.operators.Similarity.quantizeInt8(
      Tables.embeddings(spark, dir))
    val pq = q.queryExecution.executedPlan.toString
    assert(!pq.contains("Exchange"), s"quantize must not shuffle:\n$pq")
    import org.apache.spark.sql.functions.col
    val codes = q.select(col("vec_id"), col("qvec").as("embedding"))
    val knn = graft.operators.Similarity.bruteForceTopK(
      codes, codes.filter(col("vec_id") < 5), k = 10)
    val pk = knn.queryExecution.executedPlan.toString
    assert(pk.contains("BroadcastExchange"), s"queries not broadcast:\n$pk")
    assert(!pk.contains("SortMergeJoin") &&
      !pk.contains("CartesianProduct"))
  }

  test("q95 exact-substring decontamination broadcasts the eval gram " +
    "index; the corpus branch shuffles only hit rows by doc") {
    val p = plan("q95_exact_substr")
    assert(p.contains("BroadcastHashJoin"),
      s"gram probe must be broadcast:\n$p")
    // exactly ONE gram-keyed exchange is allowed: the (tiny) eval-set
    // index's own distinct() before its BroadcastExchange. The CORPUS
    // grams must never hash-shuffle by gram — a second gram exchange
    // would mean the probe degraded to a shuffle join of corpus bytes
    val gramKeyed = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("gram")).toSeq
    assert(gramKeyed.size <= 1,
      s"corpus grams shuffled by gram:\n${gramKeyed.mkString("\n")}")
  }

  test("q96 self-dedup pays exactly ONE gram-keyed exchange (the md5 " +
    "digest shuffle) — everything downstream is keyed by doc") {
    val p = plan("q96_self_substr")
    val hashExchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    val gramKeyed = hashExchanges.filter(_.contains("_g#"))
    assert(gramKeyed.size == 1,
      s"expected exactly one gram-digest exchange:\n" +
        hashExchanges.mkString("\n"))
  }

  test("as-of join is the union+window composition: one key exchange " +
    "per side, NO join operator, no pair explosion") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val left = spark.range(0, 1000)
      .select((col("id") % 7).as("k"), col("id").as("t"),
        col("id").as("tag"))
    val right = spark.range(0, 100)
      .select((col("id") % 7).as("k"), (col("id") * 11).as("t"),
        col("id").as("v"))
    val p = graft.operators.AsOfJoin
      .joinAsOf(left, right, Seq("k"), "t")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"as-of must not plan a join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"))
    // the union's two branches share one hash exchange each at most
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2)
  }

  test("PQ encode is a pure map: no exchange, no join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, dir)
    val cb = graft.operators.ProductQuantizer.train(
      e.filter(col("vec_id") < 30), dim = 64, m = 8, k = 4, iters = 2)
    val p = graft.operators.ProductQuantizer.encode(e, cb)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"encode must not shuffle:\n$p")
    assert(!p.contains("Join"))
  }

  test("PQ ADC search broadcasts the query tables and never " +
    "shuffles corpus floats") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, dir)
    val cb = graft.operators.ProductQuantizer.train(
      e.filter(col("vec_id") < 30), dim = 64, m = 8, k = 4, iters = 2)
    val codes = graft.operators.ProductQuantizer.encode(e, cb)
    val p = graft.operators.ProductQuantizer.adcSearch(
        codes, e.filter(col("vec_id") < 3), cb, k = 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q35 top-k runs WindowGroupLimit Partial BELOW the exchange " +
    "and Final above it — the map-side bound that keeps any reducer " +
    "from materializing more than partitions*k candidates per key") {
    // Similarity.topKPerKey rewrote the manual collect_list two-phase
    // merge into row_number + filter, which is map-side bounded ONLY
    // because Spark's WindowGroupLimit optimizer rule fires. A config
    // or version regression would silently revert to shuffling EVERY
    // candidate for a hot key to one reducer — this pin fails first
    // (r08 advice: the safety property was claimed but untested).
    val p = plan("q35_knn")
    assert("WindowGroupLimit".r.findAllIn(p).size == 2,
      s"expected Partial+Final WindowGroupLimit pair:\n$p")
    // tree prints top-down: Final (reduce side) above the hash
    // exchange, Partial (map side) below it
    val lines = p.linesIterator.toVector
    val fi = lines.indexWhere(l =>
      l.contains("WindowGroupLimit") && l.contains("Final"))
    val ei = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    val pi = lines.indexWhere(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))
    assert(fi >= 0 && ei > fi && pi > ei,
      s"WindowGroupLimit Partial not below the exchange " +
        s"(final=$fi, exchange=$ei, partial=$pi):\n$p")
  }

  test("q118 covariance is a two-phase partial aggregate over the " +
    "map-side pair fanout — no self-join") {
    val p = plan("q118_covariance")
    assert(!p.contains("Join"), s"covariance must not join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q124 weighted sample plans as TakeOrderedAndProject, not a " +
    "global sort") {
    val p = plan("q124_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q120 MAD gate joins both per-group aggregates by broadcast") {
    val p = plan("q120_mad_outliers")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q202 market share broadcasts the nation/region dimension hops") {
    val p = plan("q202_market_share")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("q346 incremental LSH probes the signature index by BROADCAST " +
    "of the banded batch and fans verdicts back out by BROADCAST of " +
    "the distinct-signature verdict table — exactly two broadcasts, " +
    "both batch-bounded, and the index side never hash-partitions " +
    "full rows (its only exchange is the narrow (sig, count) pre-agg)") {
    val p = plan("q346_incremental_lsh")
    assert("BroadcastExchange".r.findAllIn(p).size == 2, p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BuildRight"), p)
    assert(!p.contains("BuildLeft"), p)
    // index (sig, count) pre-agg + batch distinct-sig pre-agg + pair
    // agg + per-sig agg: any rise means a side started shuffling full
    // rows (the batch distinct is batch-bounded by construction)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q358 incremental SimHash probes the print index by BROADCAST " +
    "of the banded batch and fans verdicts back out by BROADCAST of " +
    "the distinct-print verdict table — exactly two broadcasts, both " +
    "batch-bounded, and the only index-side exchange is the narrow " +
    "(print, count) pre-aggregation") {
    val p = plan("q358_incremental_simhash")
    assert("BroadcastExchange".r.findAllIn(p).size == 2, p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BuildRight"), p)
    assert(!p.contains("BuildLeft"), p)
    // distinct-print pre-agg + pair agg + per-print agg: any rise
    // means the index side started shuffling full rows
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("incrementalSemDedup (isolated, maxBlock=0) probes the kept " +
    "state through exactly one broadcast — the state side never " +
    "exchanges before its join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val state = Seq((1L, Seq(1.0, 0.0), 0L), (2L, Seq(0.0, 1.0), 0L))
      .toDF("vec_id", "embedding", "cluster")
    val batch = Seq((10L, Seq(0.5, 0.5))).toDF("vec_id", "embedding")
    val cs = Array((0L, Array(1.0, 0.0)))
    val p = graft.operators.SemDedup
      .incrementalSemDedup(cs, state, batch, tau = 0.9, maxBlock = 0)
      .queryExecution.executedPlan.toString
    // the state-probe join keys on cluster: it must be the broadcast
    // build (batch side), never a sort-merge that would shuffle the
    // state. (The tiny verdict-assembly joins also broadcast — not
    // counted here.)
    assert(p.contains("BroadcastHashJoin [cluster"), p)
    assert(!p.contains("SortMergeJoin [cluster"), p)
  }

  test("each pair generator's self-join reads ONE exchange on its join " +
    "key on both sides, an explicit-count repartition wherever the " +
    "planner keeps it (AQE on, executed)") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // query stages and reused exchanges hide their plans from children
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case o => o.children.flatMap(nodes)
    })
    def names(es: Seq[Expression]): Seq[String] =
      es.flatMap(_.references.map(_.name))
    // the shingle joins' repartition sits on the df window's exchange
    // on the same key at the same width, and EnsureRequirements drops a
    // user repartition whose child is already partitioned that way: the
    // join reads the window's exchange instead
    val pinned = Set("bucket", "date", "doc_id")
    val width = spark.sessionState.conf.numShufflePartitions
    val failures = Seq("q34_jaccard_pairs" -> "shingle",
      "q39_minhash_lsh_pairs" -> "bucket", "q40_lsh_cosine_pairs" -> "bucket",
      "q121_containment_pairs" -> "shingle",
      "q131_image_phash_pairs" -> "bucket", "q144_pair_corr" -> "date",
      "q158_pmi_pairs" -> "doc_id").flatMap { case (q, key) =>
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val all = nodes(df.queryExecution.executedPlan)
      // the self-join: a join on `key` whose two sides read one and the
      // same exchange instance (AQE reuse points both sides at it)
      val selfJoins = all.collect {
        case j: BaseJoinExec if names(j.leftKeys).contains(key) &&
            names(j.leftKeys) == names(j.rightKeys) =>
          def read(c: SparkPlan) = nodes(c).collect {
            case e: ShuffleExchangeExec => e
          }.filter(_.outputPartitioning match {
            case h: HashPartitioning => names(h.expressions) == names(j.leftKeys)
            case _ => false
          })
          read(j.left).filter(e => read(j.right).exists(_ eq e))
      }.filter(_.size == 1)
      val byNum = all.collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      }.foldLeft(List.empty[ShuffleExchangeExec]) { (seen, e) =>
        if (seen.exists(_ eq e)) seen else e :: seen
      }.size
      val ok = selfJoins.size == 1 && {
        val e = selfJoins.head.head
        e.numPartitions == width &&
          (e.shuffleOrigin == REPARTITION_BY_NUM) == pinned(key) &&
          byNum == (if (pinned(key)) 1 else 0)
      }
      if (ok) None else Some(s"$q:\n${df.queryExecution.executedPlan}")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("q203 triplet mining is broadcast-anchor + partial struct-max " +
    "aggregate — no window, map-side partials before the exchange") {
    val p = plan("q203_triplets")
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
    // struct max is sort-based but still two-phase: partial_max runs
    // before the (anchor, label) exchange
    assert(p.contains("partial_max"), p)
  }
}
