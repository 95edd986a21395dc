package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.{Staging, Tables}
import graft.jobs.IncrementalIngestJob

/** Structured Streaming framing of the incremental corpus ingest: an
  * `availableNow` file stream over a documents drop directory, with
  * each micro-batch running the [[IncrementalIngestJob]] ladder
  * against persisted state via foreachBatch (the contract is a set
  * operation against persisted state, not an event-time window).
  *
  * Idempotency under at-least-once foreachBatch: state is persisted
  * as PER-BATCH DELTAS (`stateDir/delta_<id>`, just that batch's
  * survivor contribution) plus a periodic full COMPACT
  * (`stateDir/after_<id>`, every `compactEvery`-th batch), and batch
  * N always loads the latest compact with id < N unioned with every
  * delta in between — so a REPLAYED batch reloads the exact state it
  * saw the first time and rewrites an identical delta
  * (write-by-batch-id overwrite). Folding survivors
  * into one running state dir instead would lose the replayed batch's
  * rows: after the state absorbed them, a replay would dedup them all
  * away and overwrite the partition with nothing. Batch 0 clears the
  * target and state dirs — a fresh checkpoint means "reprocess from
  * scratch".
  *
  * r13 optimization (guide §6 / VERDICT item 5): the original layout
  * wrote the FULL state snapshot every batch — an O(accumulated
  * state) rewrite per micro-batch that dominated steady-state latency
  * (8-11 s/batch at sf0.1×8, growing with state). Deltas make the
  * per-batch write O(batch survivors); the bounded delta chain
  * (≤ compactEvery parquet dirs per table) keeps the load-side file
  * count flat.
  */
object StreamingCorpusIngest {

  /** File-stream read of a documents drop dir (schema derived from a
    * batch read, the [[StreamingIngest.readEvents]] discipline minus
    * the timestamp normalization documents don't need). */
  def readDocs(spark: SparkSession, sourceDir: String,
               maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = Tables.parquet(spark, sourceDir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n))
    reader.parquet(sourceDir)
  }

  /** Day-0 empty state: [[IncrementalIngestJob.deriveState]] over an
    * empty doc frame, so it carries the CONFIGURED signature width.
    * With `withSimhash` it carries an EMPTY prints table, so the job's
    * SimHash stage (activated by the presence of prints in the state)
    * runs from batch 0 and every snapshot persists the prints. */
  private def emptyState(spark: SparkSession,
                         cfg: IncrementalIngestJob.Config,
                         withSimhash: Boolean)
      : IncrementalIngestJob.State = {
    import spark.implicits._
    IncrementalIngestJob.deriveState(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), cfg, withSimhash)
  }

  /** The state visible to `batchId`: the latest full compact
    * (`after_<c>`, c < batchId) if any, unioned with every delta in
    * (c, batchId). None when neither exists. Discovery goes through
    * Hadoop's FileSystem for the path's scheme — java.io.File would
    * return null on HDFS/S3 state dirs and silently fall back to the
    * empty bootstrap state every batch (cross-batch dedup off, no
    * error). */
  private def latestStateBefore(spark: SparkSession, stateDir: String,
                                batchId: Long): Option[IncrementalIngestJob.State] = {
    val (fs, root) = Tables.fileSystem(spark, stateDir)
    def ids(prefix: String): Seq[Long] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(prefix))
        .flatMap(_.getPath.getName.stripPrefix(prefix).toLongOption)
        .filter(_ < batchId)
    val compact = ids("after_").maxOption
    val deltas = ids("delta_").filter(i => compact.forall(_ < i)).sorted
    val dirs = compact.map(c => s"$stateDir/after_$c").toSeq ++
      deltas.map(i => s"$stateDir/delta_$i")
    if (dirs.isEmpty) None
    else Some(IncrementalIngestJob.loadStateUnion(spark, dirs))
  }

  /** Start the ingest: survivors land in `targetDir/batch_id=<id>`,
    * state snapshots in `stateDir/after_<id>`. */
  def ingest(spark: SparkSession, sourceDir: String, targetDir: String,
             stateDir: String, checkpointDir: String,
             evalSet: DataFrame,
             cfg: IncrementalIngestJob.Config = IncrementalIngestJob.Config(),
             maxFilesPerTrigger: Option[Int] = None,
             withSimhash: Boolean = false,
             compactEvery: Int = 8): StreamingQuery =
    readDocs(spark, sourceDir, maxFilesPerTrigger).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId == 0L) {
          // the target/state dirs may live on any Hadoop scheme
          Seq(targetDir, stateDir).foreach { d =>
            val (fs, p) = Tables.fileSystem(spark, d)
            fs.delete(p, true)
          }
        }
        val loaded = latestStateBefore(spark, stateDir, batchId)
          .getOrElse(emptyState(spark, cfg, withSimhash))
        // restart-over-older-state guard: snapshots written by a run
        // started with withSimhash=false carry no prints table, and the
        // presence-of-state-activated SimHash stage would silently turn
        // off for every subsequent batch (the latestStateBefore
        // silent-degradation class). Inject an EMPTY prints table so
        // the stage stays active and every later snapshot persists it.
        val prev =
          if (withSimhash && loaded.simhashPrints.isEmpty) {
            System.err.println(s"[ingest] batch $batchId: loaded state " +
              "has no simhash_prints but withSimhash=true — injecting " +
              "an empty prints table so the SimHash stage stays active")
            loaded.copy(simhashPrints =
              emptyState(spark, cfg, withSimhash).simhashPrints)
          } else loaded
        val (survivors, next, _) =
          IncrementalIngestJob.run(prev, batch, evalSet, cfg)
        survivors.write.mode("overwrite")
          .parquet(s"$targetDir/batch_id=$batchId")
        // persist only this batch's contribution — O(batch), not
        // O(accumulated state); a replayed batch rewrites the same
        // delta because it reloaded the same pre-batch state
        IncrementalIngestJob.saveState(
          IncrementalIngestJob.stateContribution(prev, survivors, cfg),
          s"$stateDir/delta_$batchId")
        // periodic compaction bounds the delta chain the next load
        // unions (and a compact is exactly what run() already built)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          IncrementalIngestJob.saveState(next,
            s"$stateDir/after_$batchId")
        // run() returns its last staged frame still materialized —
        // without this, one frame per micro-batch stays in executor
        // memory until the ContextCleaner reclaims it
        Staging.release(survivors)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The ingested corpus so far: union of all batch partitions. */
  def readCorpus(spark: SparkSession, targetDir: String): DataFrame =
    spark.read.parquet(targetDir)
      .drop("batch_id")
}
