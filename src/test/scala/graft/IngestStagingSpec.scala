package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerDrain
import graft.jobs.{IncrementalIngestJob, Ladder}

/** The ingest ladder's staging: every stage is one eager checkpoint
  * whose row count is observed in the same job, so no plan carries the
  * plans of the stages before it, and the caller's release leaves none
  * of the ladder's blocks behind. The fixture is q361's gate: the
  * SimHash-on funnel over the `doc_id % 5 = 0` batch against state
  * derived from the rest. */
class IngestStagingSpec extends SparkSuite {

  private val cfg = IncrementalIngestJob.Config(
    minQuality = 0.25, minhashK = 4, bands = 2, shingleN = 2,
    minMatches = 3, contaminationN = 5, contaminationThreshold = 0.5,
    simhashMaxHamming = 3, semDedupTau = 0.4)

  private def ingest(sf: String) = {
    val docs = Tables.documents(spark, s"/root/testdata/$sf")
    val state = IncrementalIngestJob.deriveState(
      Ladder.prepText(docs.filter(col("doc_id") % 5 =!= 0)), cfg,
      simhash = true)
    IncrementalIngestJob.run(state, docs.filter(col("doc_id") % 5 === 0),
      docs.filter(col("doc_id") < 50), cfg)
  }

  /** Jobs one SimHash-on run starts at sf0.001 on the suite's 4-core
    * session: 3 per staged ledger entry under cache() + count() made
    * 81 before the checkpoint staging. */
  private val MaxJobs = 61

  test("one SimHash-on run renders no plan over 100k characters, stays " +
    "within its job bound, and its release leaves no ladder RDD") {
    val sc = spark.sparkContext
    val plans = scala.collection.mutable.ArrayBuffer.empty[Int]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          synchronized { plans += s.physicalPlanDescription.length }
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          synchronized { plans += u.physicalPlanDescription.length }
        case _ => ()
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    val (survivors, _, ledger) =
      try {
        val out = ingest("sf0.001")
        ListenerDrain(sc)
        out
      } finally sc.removeSparkListener(listener)
    assert(ledger.map(_._1).contains("simhash_deduped"), ledger)
    assert(plans.nonEmpty)
    assert(plans.max <= 100000,
      s"plan descriptions (characters): ${plans.mkString(", ")}")
    assert(jobs <= MaxJobs, s"$jobs jobs")

    def ladderRdds = sc.getPersistentRDDs.values
      .filter(r => Option(r.name).exists(_.startsWith(Ladder.RddPrefix)))
    assert(ladderRdds.nonEmpty, "the survivors stay staged until released")
    Staging.release(survivors)
    assert(ladderRdds.isEmpty,
      ladderRdds.map(r => s"${r.id} ${r.name}").mkString(", "))
  }

  test("the SimHash-on ledger equals the cache()-staged ladder's at " +
    "sf0.001 and sf0.01") {
    val expected = Map(
      "sf0.001" -> Seq("input" -> 100L, "canonicalized" -> 100L,
        "scrubbed" -> 100L, "quality_gate" -> 100L,
        "decontaminated" -> 86L, "exact_deduped" -> 72L,
        "near_deduped" -> 62L, "simhash_deduped" -> 39L),
      "sf0.01" -> Seq("input" -> 100L, "canonicalized" -> 100L,
        "scrubbed" -> 100L, "quality_gate" -> 100L,
        "decontaminated" -> 88L, "exact_deduped" -> 80L,
        "near_deduped" -> 63L, "simhash_deduped" -> 42L))
    expected.foreach { case (sf, ledger) =>
      val (survivors, _, got) = ingest(sf)
      Staging.release(survivors)
      assert(got == ledger, sf)
    }
  }
}
