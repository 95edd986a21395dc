package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.jobs.IncrementalIngestJob
import graft.streaming.StreamingCorpusIngest

/** The streaming framing of the incremental corpus ingest: micro-batch
  * sequence == the same batches run through the job by hand, because
  * every batch loads the state snapshot its predecessor persisted. */
class StreamingCorpusIngestSpec extends SparkSuite {
  import spark.implicits._

  test("a two-file drop runs as two micro-batches and lands exactly " +
    "the survivors the batch-mode job produces on the same split") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val evalSet = docs.filter(col("doc_id") < 20)
    val day0 = docs.filter(col("doc_id") >= 20 && col("doc_id") < 120)
    val copies = day0.orderBy("doc_id").limit(5)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val day1 = docs.filter(col("doc_id") >= 120 && col("doc_id") < 160)
      .unionByName(copies)

    val srcDir = Files.createTempDirectory("graft_scing_src")
    def writeAs(df: org.apache.spark.sql.DataFrame, name: String,
                ts: Long): Unit = {
      val tmp = Files.createTempDirectory("graft_scing_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, srcDir.resolve(name))
      srcDir.resolve(name).toFile.setLastModified(ts)
    }
    // distinct mod-times pin the micro-batch order (FileStreamSource
    // processes oldest first)
    val t0 = System.currentTimeMillis() - 600000L
    writeAs(day0, "day0.parquet", t0)
    writeAs(day1, "day1.parquet", t0 + 120000L)

    val target = Files.createTempDirectory("graft_scing_tgt").toString
    val state = Files.createTempDirectory("graft_scing_st").toString
    val cp = Files.createTempDirectory("graft_scing_cp").toString
    val q = StreamingCorpusIngest.ingest(spark, srcDir.toString,
      target, state, cp, evalSet, maxFilesPerTrigger = Some(1))
    q.awaitTermination()

    val streamed = StreamingCorpusIngest.readCorpus(spark, target)
      .select("doc_id").as[Long].collect().toSet

    // batch-mode reference on the same split
    val empty = IncrementalIngestJob.State(
      Seq.empty[String].toDF("fingerprint"),
      graft.operators.Dedup.minhashSignatures(
        Seq.empty[(Long, String)].toDF("doc_id", "text")))
    val (s0, st1, _) = IncrementalIngestJob.run(empty, day0, evalSet)
    val (s1, _, _) = IncrementalIngestJob.run(st1, day1, evalSet)
    val reference = (s0.select("doc_id").as[Long].collect() ++
      s1.select("doc_id").as[Long].collect()).toSet
    assert(streamed == reference)
    // two state DELTAS persisted, one per batch (r13 layout: full
    // compacts only every compactEvery batches)
    assert(new java.io.File(state).listFiles()
      .count(_.getName.startsWith("delta_")) == 2)
  }

  test("a non-default minhashK threads into the batch-0 bootstrap " +
    "state (k=4 ingest runs; the persisted index is 4 signatures wide)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val evalSet = docs.filter(col("doc_id") < 20)
    val day0 = docs.filter(col("doc_id") >= 20 && col("doc_id") < 80)

    val srcDir = Files.createTempDirectory("graft_scink_src")
    val tmp = Files.createTempDirectory("graft_scink_half").toString
    day0.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, srcDir.resolve("day0.parquet"))

    val target = Files.createTempDirectory("graft_scink_tgt").toString
    val state = Files.createTempDirectory("graft_scink_st").toString
    val cp = Files.createTempDirectory("graft_scink_cp").toString
    val q = StreamingCorpusIngest.ingest(spark, srcDir.toString,
      target, state, cp, evalSet,
      cfg = IncrementalIngestJob.Config(minhashK = 4, bands = 2,
        minMatches = 3),
      withSimhash = true)
    q.awaitTermination() // pre-fix: batch 0 dies on the k mismatch
    val n = StreamingCorpusIngest.readCorpus(spark, target).count()
    assert(n > 0)
    val st0 = IncrementalIngestJob.loadState(spark, s"$state/delta_0")
    val sigCols = st0.sigIndex.columns.toSet
    assert(sigCols.contains("sig_3") && !sigCols.contains("sig_4"))
    // withSimhash: the stage ran from batch 0 and the snapshot carries
    // the prints side table, one row per survivor
    assert(st0.simhashPrints.isDefined &&
      st0.simhashPrints.get.count() == n)
  }

  test("restart with withSimhash=true over a state written WITHOUT " +
    "simhash activates the stage (empty prints injected) instead of " +
    "silently degrading for every subsequent batch") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val evalSet = docs.filter(col("doc_id") < 20)
    val day0 = docs.filter(col("doc_id") >= 20 && col("doc_id") < 80)
    val day1 = docs.filter(col("doc_id") >= 80 && col("doc_id") < 140)

    val srcDir = Files.createTempDirectory("graft_scirs_src")
    def writeAs(df: org.apache.spark.sql.DataFrame, name: String,
                ts: Long): Unit = {
      val tmp = Files.createTempDirectory("graft_scirs_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, srcDir.resolve(name))
      srcDir.resolve(name).toFile.setLastModified(ts)
    }
    val t0 = System.currentTimeMillis() - 600000L
    writeAs(day0, "day0.parquet", t0)

    val target = Files.createTempDirectory("graft_scirs_tgt").toString
    val state = Files.createTempDirectory("graft_scirs_st").toString
    val cp = Files.createTempDirectory("graft_scirs_cp").toString
    // first run: simhash OFF — delta_0 carries no prints table
    StreamingCorpusIngest.ingest(spark, srcDir.toString, target, state,
      cp, evalSet, withSimhash = false).awaitTermination()
    assert(IncrementalIngestJob.loadState(spark, s"$state/delta_0")
      .simhashPrints.isEmpty)
    // second run over the SAME checkpoint/state with simhash ON: batch
    // 1 loads delta_0 (prints-less) — pre-fix the stage silently stayed
    // off and the next snapshot carried no prints either
    writeAs(day1, "day1.parquet", t0 + 120000L)
    StreamingCorpusIngest.ingest(spark, srcDir.toString, target, state,
      cp, evalSet, withSimhash = true).awaitTermination()
    val st1 = IncrementalIngestJob.loadState(spark, s"$state/delta_1")
    val batch1Survivors = spark.read.parquet(target)
      .where(col("batch_id") === 1).count()
    assert(batch1Survivors > 0)
    assert(st1.simhashPrints.isDefined,
      "delta_1 must persist the prints table — the stage was activated")
    assert(st1.simhashPrints.get.count() == batch1Survivors)
  }

  test("compaction: with compactEvery=2 a full after_1 snapshot lands " +
    "and equals the union of the delta chain (the state a later batch " +
    "would load either way)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val evalSet = docs.filter(col("doc_id") < 20)
    val day0 = docs.filter(col("doc_id") >= 20 && col("doc_id") < 120)
    val day1 = docs.filter(col("doc_id") >= 120 && col("doc_id") < 160)

    val srcDir = Files.createTempDirectory("graft_scicp_src")
    def writeAs(df: org.apache.spark.sql.DataFrame, name: String,
                ts: Long): Unit = {
      val tmp = Files.createTempDirectory("graft_scicp_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, srcDir.resolve(name))
      srcDir.resolve(name).toFile.setLastModified(ts)
    }
    val t0 = System.currentTimeMillis() - 600000L
    writeAs(day0, "day0.parquet", t0)
    writeAs(day1, "day1.parquet", t0 + 120000L)

    val target = Files.createTempDirectory("graft_scicp_tgt").toString
    val state = Files.createTempDirectory("graft_scicp_st").toString
    val cp = Files.createTempDirectory("graft_scicp_cp").toString
    StreamingCorpusIngest.ingest(spark, srcDir.toString, target, state,
        cp, evalSet, maxFilesPerTrigger = Some(1), compactEvery = 2)
      .awaitTermination()

    val names = new java.io.File(state).listFiles().map(_.getName).toSet
    assert(names.contains("delta_0") && names.contains("delta_1"))
    assert(names.contains("after_1"), "batch 1 is the compaction batch")
    val compact = IncrementalIngestJob.loadState(spark, s"$state/after_1")
    val chained = IncrementalIngestJob.loadStateUnion(spark,
      Seq(s"$state/delta_0", s"$state/delta_1"))
    assert(compact.fingerprints.as[String].collect().sorted.toSeq ==
      chained.fingerprints.as[String].collect().sorted.toSeq)
    assert(compact.sigIndex.count() == chained.sigIndex.count())
  }

  test("a batch whose every document is filtered out before exact dedup " +
    "lands zero survivors, in the batch job and in the stream, instead " +
    "of failing the exact-dedup Bloom filter build") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val evalSet = docs.filter(col("doc_id") < 20)
    // every document of the batch is in the decontamination set
    val batch = evalSet.filter(col("doc_id") < 10)

    val empty = IncrementalIngestJob.State(
      Seq.empty[String].toDF("fingerprint"),
      graft.operators.Dedup.minhashSignatures(
        Seq.empty[(Long, String)].toDF("doc_id", "text")),
      simhashPrints = Some(Seq.empty[(Long, Long)].toDF("doc_id", "simhash")))
    val (survivors, next, ledger) =
      IncrementalIngestJob.run(empty, batch, evalSet)
    assert(ledger.toMap.apply("decontaminated") == 0, ledger)
    assert(survivors.count() == 0)
    assert(next.fingerprints.count() == 0 && next.sigIndex.count() == 0 &&
      next.simhashPrints.get.count() == 0)
    survivors.unpersist()

    val srcDir = Files.createTempDirectory("graft_sciem_src")
    val tmp = Files.createTempDirectory("graft_sciem_half").toString
    batch.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, srcDir.resolve("day0.parquet"))
    val target = Files.createTempDirectory("graft_sciem_tgt").toString
    val state = Files.createTempDirectory("graft_sciem_st").toString
    val cp = Files.createTempDirectory("graft_sciem_cp").toString
    StreamingCorpusIngest.ingest(spark, srcDir.toString, target, state, cp,
      evalSet, maxFilesPerTrigger = Some(1), withSimhash = true)
      .awaitTermination()
    assert(StreamingCorpusIngest.readCorpus(spark, target).count() == 0)
    val st0 = IncrementalIngestJob.loadState(spark, s"$state/delta_0")
    assert(st0.fingerprints.count() == 0 &&
      st0.simhashPrints.exists(_.count() == 0))
  }

  test("loadStateUnion refuses state dirs whose tables disagree on " +
    "schema, naming the table (a multi-path scan would read nulls)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 40)
    def stateWith(k: Int) = IncrementalIngestJob.State(
      docs.select(graft.functions.TextFns.fingerprint(col("text"))
        .as("fingerprint")),
      graft.operators.Dedup.minhashSignatures(docs, k = k))
    val compact = Files.createTempDirectory("graft_scsch_a").toString
    val delta = Files.createTempDirectory("graft_scsch_b").toString
    IncrementalIngestJob.saveState(
      stateWith(IncrementalIngestJob.Config().minhashK), compact)
    IncrementalIngestJob.saveState(stateWith(4), delta)
    val e = intercept[IllegalArgumentException](
      IncrementalIngestJob.loadStateUnion(spark, Seq(compact, delta)))
    assert(e.getMessage.contains("sig_index"), e.getMessage)
    // matching layouts still union
    val same = IncrementalIngestJob.loadStateUnion(spark,
      Seq(compact, compact))
    assert(same.sigIndex.count() == 2 * docs.count())
  }

  test("deriveState at minhashK = 4 carries sig_0..sig_3 and equals the " +
    "hand-built q356 gate state; over an empty frame it is the day-0 " +
    "state at that width") {
    import graft.functions.{TextClean, TextFns}
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") % 5 =!= 0)
    val cfg = IncrementalIngestJob.Config(minhashK = 4, bands = 2,
      minMatches = 3)
    val sigCols = "doc_id" +: (0 until 4).map(i => s"sig_$i")
    // the q356 state as the gate spelled it out by hand
    val prepped = corpus.withColumn("text",
      TextClean.scrub(TextClean.canonicalizeClasses(col("text"))))
    val handFps = prepped.select(TextFns.fingerprint(col("text"))
      .as("fingerprint"))
    val handSigs = graft.operators.Dedup.minhashSignatures(prepped,
      k = 4, n = 2)
    val st = IncrementalIngestJob.deriveState(
      graft.jobs.Ladder.prepText(corpus), cfg)
    assert(st.sigIndex.columns.toSeq == sigCols)
    assert(handSigs.count() > 0)
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(st.fingerprints, handFps))
    assert(same(st.sigIndex, handSigs))
    assert(st.simhashPrints.isEmpty && st.centroids.isEmpty &&
      st.keptEmbeddings.isEmpty)
    val empty = IncrementalIngestJob.deriveState(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), cfg,
      simhash = true)
    assert(empty.sigIndex.columns.toSeq == sigCols)
    assert(empty.fingerprints.isEmpty && empty.sigIndex.isEmpty &&
      empty.simhashPrints.exists(_.isEmpty))
  }
}
