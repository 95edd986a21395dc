package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " * 4
  private def docs = Seq(
    (1L, base),                                   // original
    (2L, base),                                   // exact dup of 1
    (3L, base + "extra tail words here"),         // near dup of 1
    (4L, "completely different content about spark query engines and " +
      "distributed shuffles at warehouse scale"),
    (5L, "the dog jumps the fox " * 6)            // shares vocab, reordered
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts under the min id") {
    val out = Dedup.exact(docs).orderBy("canonical_id")
      .select("canonical_id", "n_dups").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("minhash LSH surfaces the exact and near duplicates, not the " +
    "unrelated pair") {
    val pairs = Dedup.minhashLshPairs(docs, k = 8, bands = 4, n = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard is exact: identical docs score 1.0") {
    val out = Dedup.ngramJaccardPairs(docs, n = 2, threshold = 0.9)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(out.contains((1L, 2L, 1.0)))
  }

  test("minhash dedup labeling folds duplicate clusters to one " +
    "canonical id in linear output") {
    val labels = Dedup.minhashDedupGroups(docs, k = 8, bands = 4, n = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 5)          // one row per doc, never pairs
    assert(labels(1L) == 1L && labels(2L) == 1L) // exact dups cluster
    assert(labels(3L) == 1L)          // near dup joins the cluster
    assert(labels(4L) == 4L)          // unrelated doc stays canonical
  }

  test("degenerate docs (null / empty / single-token text) are " +
    "singletons, never clustered with each other") {
    val degenerate = Seq(
      (10L, base), (11L, base),      // a real dup cluster as control
      (20L, null.asInstanceOf[String]),
      (21L, ""),
      (22L, "solo")                  // one token → no bigram shingles
    ).toDF("doc_id", "text")
    val labels = Dedup.minhashDedupGroups(degenerate, k = 8, bands = 4,
        n = 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 5)                       // every doc labeled
    assert(labels(10L) == 10L && labels(11L) == 10L)
    assert(labels(20L) == 20L && labels(21L) == 21L && labels(22L) == 22L)
    val pairs = Dedup.minhashLshPairs(degenerate, k = 8, bands = 4, n = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 11L)))               // no degenerate pairs
  }

  test("simhash pairs exact and near duplicates within small hamming") {
    val prints = docs.select(col("doc_id"),
      graft.functions.TextFns.simhash64(col("text")).as("simhash"))
    val pairs = Dedup.hammingBandPairs(prints, "simhash", "doc_id",
        maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))   // hamming 0
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("embedding near-dup labels are true components: every cosine " +
    "edge's endpoints share a label, every label is a component min") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val labels = Dedup.embeddingNearDupGroups(emb, strategy = "exact",
      threshold = 0.4).as[(Long, Long)].collect().toMap
    assert(labels.forall { case (id, c) => c <= id })
    val edges = graft.operators.Similarity
      .bruteForceSelfPairs(emb, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(edges.nonEmpty)
    edges.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"edge ($a,$b) split across groups")
    }
  }

  test("embeddingNearDupGroups refuses an unknown edge strategy " +
    "instead of silently picking one") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupGroups(emb, strategy = "bruteforce")
    }
    assert(e.getMessage.contains("lsh") && e.getMessage.contains("exact"))
  }

  test("exact and LSH group strategies agree on planted high-sim " +
    "clusters (the recall regime the LSH band parameters target)") {
    val rng = new scala.util.Random(7)
    def vec(): Array[Double] = Array.fill(64)(rng.nextGaussian())
    val rows = for {
      (b, ci) <- Seq.fill(8)(vec()).zipWithIndex
      j <- 0 until 5
    } yield ((ci * 5 + j).toLong,
      b.map(x => x + rng.nextGaussian() * 0.01).toSeq)
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDupGroups(emb, strategy = "exact",
      threshold = 0.9).as[(Long, Long)].collect().toMap
    val lsh = Dedup.embeddingNearDupGroups(emb, strategy = "lsh",
      threshold = 0.9).as[(Long, Long)].collect().toMap
    assert(exact == lsh)
    assert(exact.values.toSet.size == 8) // one component per cluster
  }

  test("label propagation converges on a long chain, where a fixed " +
    "round budget demonstrably under-merges") {
    // a sliding near-dup chain (the crawl shape): diameter 11
    val n = 12
    val ids = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    // smallCutoff = 0 pins the DISTRIBUTED loop — this test is about
    // its convergence discipline, which the driver fast path subsumes
    val converged = Dedup.labelPropagate(ids, edges, smallCutoff = 0)
      .as[(Long, Long)].collect().toMap
    assert(converged.values.toSet == Set(1L), s"under-merged: $converged")
    // a fixed 1-round budget covers ≤2 hops (one neighbor-min + one
    // pointer jump) — the far end of the chain cannot reach id 1: the
    // silent under-merge the convergence check exists to prevent
    val truncated = Dedup.labelPropagate(ids, edges, maxIterations = 1,
        smallCutoff = 0)
      .as[(Long, Long)].collect().toMap
    assert(truncated.values.toSet != Set(1L))
  }

  test("the small-graph union-find fast path labels EXACTLY like the " +
    "distributed propagation loop — edge graphs and bucket graphs") {
    // labelPropagate: a deterministic pseudo-random graph with chains,
    // merged components, self-contained singletons, and an isolated id
    val ids = (1L to 60L).toSeq.toDF("id")
    val edges = (1 until 50).filter(i => (i * 7) % 3 != 0)
      .map(i => (i.toLong, (i + (i % 5) + 1).toLong))
      .toDF("id_a", "id_b")
    val fast = Dedup.labelPropagate(ids, edges)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.labelPropagate(ids, edges, smallCutoff = 0)
      .as[(Long, Long)].collect().toMap
    assert(fast == dist)
    assert(fast.keySet == (1L to 60L).toSet) // every id labeled once
    // minhashDedupGroups: the fixture corpus (dup cluster + near dup +
    // singleton) through both paths
    val fastM = Dedup.minhashDedupGroups(docs, k = 8, bands = 4, n = 2)
      .as[(Long, Long)].collect().toMap
    val distM = Dedup.minhashDedupGroups(docs, k = 8, bands = 4, n = 2,
        smallCutoff = 0)
      .as[(Long, Long)].collect().toMap
    assert(fastM == distM)
  }

  test("minhashDedupGroups on sf0.01 docs plus shingle-less docs: the " +
    "union-find path and the distributed loop give equal labels, each " +
    "its component's minimum id") {
    val sf = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text")
    val top = sf.agg(max("doc_id")).head().getLong(0)
    val shingleLess = Seq((top + 1, null.asInstanceOf[String]),
      (top + 2, ""), (top + 3, "solo")).toDF("doc_id", "text")
    val corpus = sf.unionByName(shingleLess)
    val fast = Dedup.minhashDedupGroups(corpus)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.minhashDedupGroups(corpus, smallCutoff = 0)
      .as[(Long, Long)].collect().toMap
    assert(fast == dist)
    // components of the shared-bucket graph, from its candidate pairs;
    // union puts the larger root under the smaller, so a root is its
    // component's minimum id
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    Dedup.minhashLshPairs(corpus).select("id_a", "id_b")
      .as[(Long, Long)].collect().foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    val ids = corpus.select("doc_id").as[Long].collect()
    assert(fast == ids.map(id => id -> find(id)).toMap)
    assert(fast.exists { case (id, c) => id != c }) // some dups merged
    (1 to 3).foreach(i => assert(fast(top + i) == top + i))
  }

  test("ngramJaccardPairs maxDf drops corpus-frequent shingles so hot " +
    "posting lists stay bounded") {
    // every doc shares token "common"; only docs 1/2 share rare tokens
    val corpus = (1 to 30).map { i =>
      val rare = if (i <= 2) "alpha beta gamma" else s"uniq$i a$i b$i"
      (i.toLong, s"common $rare")
    }.toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(corpus, n = 1, threshold = 0.0,
        maxDf = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L))) // the hot token generates no pairs
    // uncapped, the df=30 token alone pairs all C(30,2) docs — the
    // quadratic hot-key shape the cap bounds
    val uncapped = Dedup.ngramJaccardPairs(corpus, n = 1, threshold = 0.0,
      maxDf = 1000).count()
    assert(uncapped == 30L * 29 / 2)
  }

  test("canonicalByQuality keeps the best-scored copy of a fingerprint " +
    "group even when it has the higher id") {
    import org.apache.spark.sql.functions.col
    // same token SET (= same fingerprint), different quality: doc 1 is
    // short so its punct-bomb token dominates char density (loses the
    // low-punct 0.3 band); doc 2 repeats clean tokens, diluting it
    val set = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa the !!!!!!!!!!"
    val planted = Seq(
      (1L, set),
      (2L, set + (" alpha the beta the" * 20)),
      (3L, "something else entirely")).toDF("doc_id", "text")
    val out = Dedup.canonicalByQuality(planted,
        graft.functions.TextFns.qualityScore(col("text")))
      .as[(String, Long, Double, Long)].collect()
    assert(out.length == 2)
    val dupGroup = out.find(_._4 == 2L).get
    assert(dupGroup._2 == 2L) // higher-quality copy wins, not min id
    val qualities = planted.select(
      graft.functions.TextFns.qualityScore(col("text"))).as[Double]
      .collect()
    assert(qualities(1) > qualities(0)) // the premise the test rests on
  }

  test("incremental fingerprint dedup drops corpus-seen and " +
    "within-batch duplicate docs, keeping min-id firsts — equals the " +
    "plain anti-join formulation") {
    import graft.functions.TextFns
    val corpus = Seq((100L, base), (101L, "old corpus doc about ducks"))
      .toDF("doc_id", "text")
    val corpusPrints = corpus
      .select(TextFns.fingerprint(col("text")).as("fingerprint"))
    val batch = Seq(
      (1L, base),                          // seen in corpus → dropped
      (2L, "fresh new content one"),       // new
      (3L, "fresh new content one"),       // in-batch dup of 2 → dropped
      (4L, "one content new fresh"),       // fingerprint dup of 2 → dropped
      (5L, "entirely novel writing")       // new
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalByFingerprint(corpusPrints, batch)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(2L, 5L))
    // plain formulation twin: within-batch min-id per fingerprint,
    // then anti-join corpus prints directly
    val plain = batch
      .withColumn("fingerprint", TextFns.fingerprint(col("text")))
      .groupBy("fingerprint").agg(min("doc_id").as("doc_id"))
      .join(corpusPrints, Seq("fingerprint"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == plain)
  }

  test("containmentPairs flags subset duplication that Jaccard misses") {
    // doc 2 is doc 1 verbatim plus 3x more novel text: containment of
    // 1-in-2 is 1.0 while Jaccard is ~0.25
    val small = "alpha beta gamma delta epsilon zeta"
    val big = small + " " + (1 to 18).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, small), (2L, big), (3L, "totally unrelated words here")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, n = 2, threshold = 0.9)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert(r.getDouble(3) == 1.0)        // cont_a_in_b: 1 inside 2
    assert(r.getDouble(4) < 0.3)         // 2 not inside 1
    // and the symmetric Jaccard gate would NOT have caught it
    val jac = Dedup.ngramJaccardPairs(docs, n = 2, threshold = 0.9)
      .collect()
    assert(jac.isEmpty)
  }

  test("containmentEstimatePairs: LSH estimator finds prefix " +
    "containment without posting lists, estimate is directional") {
    // doc 2 = doc 1 plus a short suffix: true cont(1 in 2) = 1.0,
    // Jaccard 5/7 — high enough that bands collide
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f g h"),
      (3L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    // bands of 1 sig: candidate probability per band = J itself, so
    // a J = 5/7 pair misses all 8 bands with probability ~0.004%
    val got = Dedup.containmentEstimatePairs(docs, k = 8, bands = 8,
        n = 2, threshold = 0.5)
      .select("id_a", "id_b", "matches", "cont_a_est", "cont_b_est")
      .as[(Long, Long, Long, Double, Double)].collect()
    val pair = got.find(r => r._1 == 1L && r._2 == 2L)
    assert(pair.isDefined, s"sibling pair missing: ${got.toSeq}")
    val (_, _, m, ca, cb) = pair.get
    assert(m >= 1) // a shared band implies >= k/bands matching sigs
    // the small doc is contained in the big one, not vice versa
    assert(ca > cb)
    assert(ca >= 0.5, s"cont_a_est $ca")
    // the unrelated doc never pairs
    assert(!got.exists(r => r._1 == 3L || r._2 == 3L))
  }

  test("lshQuality: an exact duplicate is found by both pipelines — " +
    "1/1/1 with perfect precision and recall") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"),
        (3L, "x y z w q")).toDF("doc_id", "text")
    val out = Dedup.lshQuality(docs, k = 8, bands = 4, n = 1,
        threshold = 0.6, maxDf = 1000)
      .as[(Long, Long, Long, Double, Double)].head()
    assert(out == ((1L, 1L, 1L, 1.0, 1.0)))
  }

  test("dedupSavings: keep-first is corpus-wide, dropped tokens are " +
    "billed to the DROPPED doc's source; order-insensitive fingerprint") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y", "A"), (2L, "y x", "A"), // same fp, d2 dropped
      (3L, "z", "B"), (4L, "x y", "B")    // d4 dups d1 cross-source
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dedupSavings(docs).orderBy("source")
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("A", 2L, 1L, 4L, 2L, 0.5),
      ("B", 2L, 1L, 3L, 2L, 0.6667)))
  }

  test("splitLeakage: a duplicate pair lands in the md5-derived " +
    "(least, greatest) split cell with the right leak flag") {
    import spark.implicits._
    def split(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val pct = java.lang.Long.parseLong(hex, 16) % 100
      if (pct < 80) "train" else if (pct < 90) "val" else "test"
    }
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"),
        (3L, "x y z w q")).toDF("doc_id", "text")
    val out = Dedup.splitLeakage(docs, n = 1, threshold = 0.6,
        maxDf = 1000)
      .as[(String, String, Long, Boolean)].collect().toSeq
    val (sa, sb) = (split(1L), split(2L))
    val exp = (Seq(sa, sb).min, Seq(sa, sb).max)
    assert(out == Seq((exp._1, exp._2, 1L, sa != sb)))
  }

  test("incrementalLshDedup drops batch docs that near-duplicate the " +
    "signature index, keeps unrelated and shingle-less docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, base),
      (2L, "completely different content about spark query engines " +
        "and distributed shuffles at warehouse scale")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),                        // exact dup of corpus doc 1
      (11L, "unrelated astronomy text on stellar nucleosynthesis " +
        "inside collapsing supernova cores"),
      (12L, "word")                       // shingle-less: no 2-grams
    ).toDF("doc_id", "text")
    val idx = Dedup.minhashSignatures(corpus, k = 8, n = 2)
    val out = Dedup.incrementalLshDedup(idx, batch, k = 8, bands = 4,
        n = 2, minMatches = 6)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.length == 3)
    val byId = out.map(r => r._1 -> r).toMap
    // exact dup: all 8 signatures agree with corpus doc 1 -> dropped
    assert(byId(10L)._3 >= 1L && byId(10L)._4 == 0L)
    // unrelated: no candidate reaches 6-of-8 agreement -> kept
    assert(byId(11L)._3 == 0L && byId(11L)._4 == 1L)
    // shingle-less: never bands -> (0, 0, kept)
    assert(byId(12L) == ((12L, 0L, 0L, 1L)))
  }

  test("incrementalLshDedup equals a collected brute-force recompute " +
    "of band buckets + signature agreement on a real fixture slice") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val idx = Dedup.minhashSignatures(corpus, k = 8, n = 2)
    val got = Dedup.incrementalLshDedup(idx, batch, k = 8, bands = 4,
        n = 2, minMatches = 6)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq

    def sigsOf(df: org.apache.spark.sql.DataFrame): Map[Long, IndexedSeq[String]] =
      df.collect().map(r => r.getLong(0) ->
        (1 to 8).map(i => if (r.isNullAt(i)) null else r.getString(i)))
        .toMap
    val cSigs = sigsOf(idx)
    val bSigs = sigsOf(Dedup.minhashSignatures(batch, k = 8, n = 2))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def buckets(sig: IndexedSeq[String]): Set[String] =
      if (sig == null || sig.contains(null)) Set.empty
      else (0 until 4).map(b =>
        md5hex(s"$b|${sig(2 * b)}|${sig(2 * b + 1)}")).toSet
    val expected = bSigs.toSeq.sortBy(_._1).map { case (bid, bs) =>
      val bb = buckets(bs)
      val cands = cSigs.filter { case (_, cSig) =>
        buckets(cSig).exists(bb.contains) }
      val dups = cands.count { case (_, cSig) =>
        (0 until 8).count(i => cSig(i) == bs(i)) >= 6 }
      (bid, cands.size.toLong, dups.toLong,
        if (dups == 0) 1L else 0L)
    }
    assert(got == expected)
    assert(got.exists(_._3 > 0), "fixture slice should contain at " +
      "least one cross-split near-dup for the test to bite")
  }

  test("incrementalLshDedup's plan compiles: no codegen compile error " +
    "or whole-stage fallback is logged") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-codegen-capture", null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage +
          Option(e.getThrown).map(t => s" $t").getOrElse(""))
    }
    appender.start()
    val loggers = Seq(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
      "org.apache.spark.sql.execution.WholeStageCodegenExec")
      .map(n => LogManager.getLogger(n).asInstanceOf[Logger])
    val levels = loggers.map(_.getLevel)
    loggers.foreach { l => l.addAppender(appender); l.setLevel(Level.WARN) }
    try {
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      val idx = Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 3 =!= 0), k = 8, n = 2)
      val out = Dedup.incrementalLshDedup(idx,
          docs.filter(col("doc_id") % 3 === 0), k = 8, bands = 4, n = 2,
          minMatches = 6)
        .agg(count(lit(1)), sum(col("kept"))).head()
      assert(out.getLong(0) > 0)
    } finally loggers.zip(levels).foreach { case (l, lv) =>
      l.removeAppender(appender); l.setLevel(lv)
    }
    assert(seen.isEmpty, seen.toString)
  }

  test("groupAwareSplit: every member of a dup group lands in its " +
    "CANONICAL id's md5 split — a dup pair can never straddle splits") {
    import spark.implicits._
    def md5Split(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val pct = java.lang.Long.parseLong(hex, 16) % 100
      if (pct < 80) "train" else if (pct < 90) "val" else "test"
    }
    // find an id pair whose PER-DOC splits differ, to prove the group
    // rule actually overrides the naive assignment
    val id2 = (2L to 50L).find(i => md5Split(i) != md5Split(1L)).get
    val docs = Seq((1L, base), (id2, base), (60L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val out = Dedup.groupAwareSplit(docs)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1L, md5Split(1L))))
    assert(out(id2) == ((id2, 1L, md5Split(1L)))) // inherits canonical
    assert(out(60L) == ((60L, 60L, md5Split(60L))))
  }

  test("incrementalSimhashDedup drops exact/near prints, keeps " +
    "unrelated and null-text docs, and rejects maxHamming > 3") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Option(base)),
      (2L, Option("completely different content about spark query " +
        "engines and distributed shuffles at warehouse scale"))
    ).toDF("doc_id", "text")
    val prints = corpus.select(col("doc_id"),
      graft.functions.TextFns.simhash64(col("text")).as("simhash"))
    val batch = Seq(
      (10L, Option(base)),          // exact dup: hamming 0 -> dropped
      (11L, Option("unrelated astronomy text on stellar " +
        "nucleosynthesis inside collapsing supernova cores")),
      (12L, Option.empty[String])   // null text: null print -> kept
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalSimhashDedup(prints, batch)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(10L)._3 >= 1L && byId(10L)._4 == 0L)
    assert(byId(11L)._3 == 0L && byId(11L)._4 == 1L)
    assert(byId(12L) == ((12L, 0L, 0L, 1L)))
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalSimhashDedup(prints, batch, maxHamming = 4)
    }
    assert(e.getMessage.contains("maxHamming"))
  }

  test("incrementalSimhashDedup equals a collected brute-force " +
    "recompute of pigeonhole bands + exact Hamming on a fixture slice") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val prints = corpus.select(col("doc_id"),
      graft.functions.TextFns.simhash64(col("text")).as("simhash"))
    val got = Dedup.incrementalSimhashDedup(prints, batch)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq

    def printsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val cP = printsOf(prints)
    val bP = printsOf(batch.select(col("doc_id"),
      graft.functions.TextFns.simhash64(col("text")).as("simhash")))
    def buckets(h: Long): Set[(Int, Long)] =
      (0 until 4).map(b => b -> ((h >> (b * 16)) & 0xFFFFL)).toSet
    val expected = bP.toSeq.sortBy(_._1).map { case (bid, bhOpt) =>
      val cands = bhOpt.toSeq.flatMap { bh =>
        cP.toSeq.collect { case (cid, Some(ch))
          if buckets(ch).exists(buckets(bh).contains) => (cid, ch) }
      }
      val dups = bhOpt.map(bh => cands.count { case (_, ch) =>
        java.lang.Long.bitCount(bh ^ ch) <= 3 }).getOrElse(0)
      (bid, cands.size.toLong, dups.toLong, if (dups == 0) 1L else 0L)
    }
    assert(got == expected)
    assert(got.exists(_._3 > 0), "fixture slice should contain at " +
      "least one cross-split simhash near-dup for the test to bite")
  }

  test("incrementalLshDedup fails loudly on a mis-shaped index or an " +
    "out-of-range threshold") {
    import spark.implicits._
    val batch = Seq((1L, base)).toDF("doc_id", "text")
    val idx = Dedup.minhashSignatures(batch, k = 4, n = 2)
    val eK = intercept[IllegalArgumentException] {
      Dedup.incrementalLshDedup(idx, batch, k = 8, bands = 4)
    }
    assert(eK.getMessage.contains("sig_4"))
    val eT = intercept[IllegalArgumentException] {
      Dedup.incrementalLshDedup(idx, batch, k = 4, bands = 2,
        minMatches = 5)
    }
    assert(eT.getMessage.contains("minMatches"))
  }
}
