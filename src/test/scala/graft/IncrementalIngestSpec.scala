package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.jobs.IncrementalIngestJob
import graft.operators.Dedup

/** The incremental ingest composition: batch-sized work against
  * persisted state, state appended from survivors only, and the
  * property that makes the whole design auditable — re-ingesting a
  * batch against the state it just produced is a total no-op.
  *
  * Each case releases every survivor frame once nothing reads it: a
  * survivor stays staged until [[Staging.release]] (`unpersist()` is a
  * no-op on it), and the appended state reads the survivors lazily,
  * so the release waits for the case's last run. */
class IncrementalIngestSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")
  private lazy val evalSet = docs.filter(col("doc_id") < 20)

  private def emptyState = IncrementalIngestJob.State(
    docs.limit(0).select(TextFns.fingerprint(col("text"))
      .as("fingerprint")),
    Dedup.minhashSignatures(docs.limit(0)))

  test("bootstrap day 0, ingest day 1 with corpus copies: seen docs " +
    "drop, fresh docs survive, and re-ingest is a total no-op") {
    val day0 = docs.filter(col("doc_id") >= 20 && col("doc_id") < 120)
    val day1Fresh = docs.filter(col("doc_id") >= 120 &&
      col("doc_id") < 160)
    // five day-0 docs re-arrive under NEW ids (the re-crawl case)
    val copies = day0.orderBy("doc_id").limit(5)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val day1 = day1Fresh.unionByName(copies)

    val (s0, st1, led0) = IncrementalIngestJob.run(emptyState, day0,
      evalSet)
    led0.map(_._2).sliding(2).foreach {
      case Seq(a, b) => assert(b <= a); case _ => }
    assert(led0.head == ("input" -> day0.count()))
    assert(s0.count() == led0.last._2 && s0.count() > 0)
    // state grew by exactly the survivors
    assert(st1.fingerprints.count() == s0.count())
    assert(st1.sigIndex.count() == s0.count())

    val (s1, st2, _) = IncrementalIngestJob.run(st1, day1, evalSet)
    val kept1 = s1.select("doc_id").as[Long].collect().toSet
    val survived0 = s0.select("doc_id").as[Long].collect().toSet
    // every copy whose ORIGINAL survived day 0 must be dropped by the
    // state probe (identical text -> identical fingerprint)
    val copyIds = copies.select("doc_id").as[Long].collect().toSet
    copyIds.foreach { cid =>
      if (survived0.contains(cid - 100000L))
        assert(!kept1.contains(cid), s"copy $cid of a kept original " +
          "survived the incremental probe")
    }
    assert(kept1.nonEmpty)
    assert(st2.fingerprints.count() == s0.count() + s1.count())

    // the no-op property: re-ingesting the SURVIVORS against the
    // state that just absorbed them drops every row at the
    // fingerprint probe
    val (s2, _, led2) = IncrementalIngestJob.run(st2, s1, evalSet)
    assert(s2.count() == 0, s"survivor re-ingest should be a no-op, " +
      s"ledger: ${led2.mkString(", ")}")
    // re-ingesting the WHOLE day can resurface within-batch orphans
    // (band-collision granularity vs minMatches agreement — see the
    // job scaladoc), but never a previously-kept doc
    val (s3, _, _) = IncrementalIngestJob.run(st2, day1, evalSet)
    val again = s3.select("doc_id").as[Long].collect().toSet
    assert(again.intersect(kept1).isEmpty,
      s"previously-kept docs re-survived: ${again.intersect(kept1)}")
    Seq(s0, s1, s2, s3).foreach(Staging.release(_))
  }

  test("semantic stage wires in when state carries centroids + kept " +
    "embeddings: a batch vector duplicating a kept one drops its doc") {
    val day0 = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta", "en", "web"),
      (1001L, "one two three four five six seven", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val e0 = Seq(
      (1000L, Seq(1.0, 0.0, 0.0)),
      (1001L, Seq(0.0, 1.0, 0.0))
    ).toDF("vec_id", "embedding")
    val cs = graft.operators.SemDedup.seedCentroids(e0, k = 1)
    val kept0 = graft.operators.SemDedup.assign(e0, cs)
      .select(col("vec_id"), col("vec").as("embedding"), col("cluster"))
    val st = IncrementalIngestJob.State(
      emptyState.fingerprints, emptyState.sigIndex, Some(cs), Some(kept0))
    val batch = Seq(
      // textually fresh, embedding ~duplicates vec 1000
      (2000L, "totally different words entirely here folks", "en", "web"),
      // textually fresh, embedding far from both kept vectors
      (2001L, "unrelated content about distant topics again", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val be = Seq(
      (2000L, Seq(1.0, 0.001, 0.0)),
      (2001L, Seq(-0.5, -0.5, 1.0))
    ).toDF("vec_id", "embedding")
    val (surv, st2, ledger) = IncrementalIngestJob.run(st, batch,
      evalSet, IncrementalIngestJob.Config(minQuality = 0.0),
      Some(be))
    val ids = surv.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(2001L), s"got $ids; ledger $ledger")
    // kept embeddings grew by the one surviving doc, as doubles
    assert(st2.keptEmbeddings.get.count() == 3)
    // a (centroids, no keptEmbeddings) state fails loudly
    intercept[IllegalArgumentException] {
      IncrementalIngestJob.run(IncrementalIngestJob.State(
        emptyState.fingerprints, emptyState.sigIndex, Some(cs), None),
        batch, evalSet)
    }

    // save/load roundtrip: the reopened state drives the batch to the
    // same survivors as the in-memory one
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ingest_state").toString
    IncrementalIngestJob.saveState(st, dir)
    val reopened = IncrementalIngestJob.loadState(spark, dir)
    assert(reopened.centroids.get.map(_._1).toSeq ==
      cs.map(_._1).toSeq)
    val (surv2, _, _) = IncrementalIngestJob.run(reopened, batch,
      evalSet, IncrementalIngestJob.Config(minQuality = 0.0), Some(be))
    assert(surv2.select("doc_id").as[Long].collect().toSet == ids)
    Seq(surv, surv2).foreach(Staging.release(_))
  }

  test("simhash stage wires in when state carries prints: a batch " +
    "copy passes the EMPTY exact/LSH state and is dropped ONLY by " +
    "the print probe; state appends survivor prints; None = stage off") {
    import graft.functions.TextFns
    val text0 = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = Seq((100L, text0, "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val prints = corpus.select(col("doc_id"),
      TextFns.simhash64(col("text")).as("simhash"))
    // fingerprint/signature state EMPTY: the exact and LSH stages
    // cannot drop anything, isolating the simhash stage's verdict
    val st = IncrementalIngestJob.State(
      emptyState.fingerprints, emptyState.sigIndex,
      simhashPrints = Some(prints))
    val batch = Seq(
      (200L, text0, "en", "web"), // exact text copy: hamming 0
      (201L, "entirely different subject matter covering storage " +
        "engines compaction strategies and write amplification today",
        "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val cfg = IncrementalIngestJob.Config(minQuality = 0.0)
    val (surv, st2, ledger) = IncrementalIngestJob.run(st, batch,
      evalSet, cfg)
    val ids = surv.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(201L), s"got $ids; ledger $ledger")
    assert(ledger.map(_._1).contains("simhash_deduped"))
    // prints grew by exactly the survivors
    assert(st2.simhashPrints.get.count() == 2)
    // and the survivor's print is the appended row
    val appended = st2.simhashPrints.get
      .select("doc_id").as[Long].collect().toSet
    assert(appended == Set(100L, 201L))

    // stage off without prints: the copy survives (nothing else can
    // drop it against the empty exact/LSH state), no ledger entry
    val (survOff, stOff, ledgerOff) = IncrementalIngestJob.run(
      IncrementalIngestJob.State(
        emptyState.fingerprints, emptyState.sigIndex),
      batch, evalSet, cfg)
    assert(survOff.select("doc_id").as[Long].collect().toSet ==
      Set(200L, 201L))
    assert(!ledgerOff.map(_._1).contains("simhash_deduped"))
    assert(stOff.simhashPrints.isEmpty)

    // save/load roundtrip carries the prints side table
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ingest_simhash").toString
    IncrementalIngestJob.saveState(st2, dir)
    val reopened = IncrementalIngestJob.loadState(spark, dir)
    assert(reopened.simhashPrints.isDefined &&
      reopened.simhashPrints.get.count() == 2)
    // re-ingest of survivors against the absorbed state is a no-op
    // with the simhash stage live too
    val (reRun, _, _) = IncrementalIngestJob.run(reopened, surv,
      evalSet, cfg)
    assert(reRun.count() == 0)
    Seq(surv, survOff, reRun).foreach(Staging.release(_))
  }

  test("ALL FIVE stages live (the q362 configuration): the ladder " +
    "runs end to end on the fixtures, every stage appears in the " +
    "ledger, and survivor re-ingest WITH embeddings against the " +
    "absorbed state is a total no-op") {
    import graft.functions.TextClean
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val prepped = docs.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        TextClean.scrub(TextClean.canonicalizeClasses(col("text"))))
    val stateVecs = e.filter(col("vec_id") % 5 =!= 0)
    val cs = graft.operators.SemDedup.seedCentroids(stateVecs, 8)
    val keptState = graft.operators.SemDedup.assign(stateVecs, cs)
      .select(col("vec_id"), col("vec").as("embedding"), col("cluster"))
    val st = IncrementalIngestJob.State(
      prepped.select(TextFns.fingerprint(col("text"))
        .as("fingerprint")),
      Dedup.minhashSignatures(prepped, k = 4, n = 2),
      Some(cs), Some(keptState),
      Some(prepped.select(col("doc_id"),
        TextFns.simhash64(col("text")).as("simhash"))))
    val cfg = IncrementalIngestJob.Config(minQuality = 0.25,
      minhashK = 4, bands = 2, shingleN = 2, minMatches = 3,
      contaminationN = 5, contaminationThreshold = 0.5,
      simhashMaxHamming = 3, semDedupTau = 0.4)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val be = e.filter(col("vec_id") % 5 === 0)
    val evalSet50 = docs.filter(col("doc_id") < 50)
    val (s1, st2, ledger) = IncrementalIngestJob.run(st, batch,
      evalSet50, cfg, Some(be))
    val surv = s1.localCheckpoint(true)
    // every stage materialized, in run()'s documented order
    assert(ledger.map(_._1) == Seq("input", "canonicalized",
      "scrubbed", "quality_gate", "decontaminated", "exact_deduped",
      "near_deduped", "simhash_deduped", "sem_deduped"), ledger)
    assert(surv.count() > 0)
    // all four index families appended from survivors only
    assert(st2.simhashPrints.get.count() ==
      st.simhashPrints.get.count() + surv.count())
    assert(st2.keptEmbeddings.get.count() >= keptState.count())
    // the no-op: survivors (vectors riding along) against the state
    // that absorbed them — dropped at the exact probe before any
    // later stage can even see them, and the semantic probe would
    // drop them anyway (own vector now in kept state at cosine 1)
    val survEmb = be.join(surv.select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    val (s2, _, led2) = IncrementalIngestJob.run(st2, surv,
      evalSet50, cfg, Some(survEmb))
    assert(s2.count() == 0, s"survivor re-ingest must be a no-op " +
      s"with all stages live; ledger: ${led2.mkString(", ")}")
    Seq(s1, surv, s2).foreach(Staging.release(_))
  }
}
