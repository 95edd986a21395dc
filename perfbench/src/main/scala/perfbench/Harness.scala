package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.{Bench, SparkEntry, Tables}
import graft.jobs.{DailyEtlJob, IncrementalIngestJob}
import graft.operators.{Dedup, Enrichment}
import graft.streaming.StreamingCorpusIngest

/** One benchmark run in one JVM: set up a session several times, run a
  * workload in a closed loop (one client) for at least `--seconds`,
  * check its outputs, and write every raw sample as JSON to `--out`.
  * Aggregation into metrics happens in run.py.
  *
  *   Harness --workload interactive|daily_etl --data DIR --work DIR
  *           --out FILE --seconds N --seed N --trace 0|1 [--cpus N]
  *           [--setup-only 1]
  *
  * With `--trace 1` a [[Tracer]] records per-layer counters around every
  * call into the program; without it no listener is registered except
  * the streaming progress listener the ingest batch latency comes from.
  */
object Harness {

  final case class Op(kind: String, name: String, ms: Double, ok: Boolean,
                      extra: Map[String, Any] = Map.empty)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val data = opts("data")
    val work = opts("work")
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val seed = opts.getOrElse("seed", "1").toLong
    val trace = opts.getOrElse("trace", "0") == "1"
    val cpus = opts.getOrElse("cpus", "3").toInt
    val h = new Harness(workload, data, work, seconds, seed, trace, cpus)
    if (opts.get("setup-only").contains("1")) h.setUpOnly()
    else Files.writeString(Paths.get(opts("out")), Json(h.run()))
  }

  /** Wall time of `f` in milliseconds, with its result. */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e6, r)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Parquet bytes and file count under `dir` (recursive). */
  def parquetFootprint(dir: File): (Long, Int) =
    if (!dir.exists()) (0L, 0)
    else if (dir.isFile)
      if (dir.getName.endsWith(".parquet")) (dir.length, 1) else (0L, 0)
    else Option(dir.listFiles()).toSeq.flatten.map(parquetFootprint)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}

final class Harness(workload: String, data: String, work: String,
                    seconds: Double, seed: Long, trace: Boolean, cpus: Int) {
  import Harness._

  private var spark: SparkSession = _
  /** Keeps the calibration kernel's result live. */
  @volatile private var sink = 0.0
  private val tracer: Option[Tracer] = if (trace) Some(new Tracer) else None
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val passes = mutable.ArrayBuffer.empty[Double]
  /** daily_etl: the CLI pipeline's and the ingest ladder's share of
    * each pass. */
  private val segments = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val checks =
    mutable.ArrayBuffer.empty[(String, Boolean, String, Double)]
  private val info = mutable.LinkedHashMap.empty[String, Any]
  private val phase = mutable.LinkedHashMap.empty[String, Double]
  info("phase_ms") = phase

  private def session(): SparkSession = {
    val adaptive = workload != "interactive"
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the interactive workload uses Bench's session shape (AQE off,
      // fixed small partition count); the pipelines keep Spark's
      // default AQE, as the CLI does
      .config("spark.sql.adaptive.enabled", adaptive.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def warmUp(): Unit = {
    noop(spark.range(1000).selectExpr("sum(id)"))
    workload match {
      case "interactive" => noop(Tables.lineitem(spark, data).limit(1))
      case _ => noop(Tables.events(spark, s"$data/etl/all").limit(1))
    }
  }

  /** Span around one call into the program (a no-op when untraced). */
  private def span[T](tag: String)(f: => T): T = tracer match {
    case None => f
    case Some(t) =>
      t.begin(tag)
      try f finally t.end(spark.sparkContext)
  }

  /** The same-JVM host-noise control, taken after the workload: a fixed
    * CPU kernel and the `spark.range(1M)` noop floor, each the median of
    * five. */
  private def calibration(): Map[String, Double] = {
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val cpu = median((1 to 5).map(_ => timed {
      var x = 0.0; var i = 0
      while (i < 5000000) { x += math.sqrt(i.toDouble); i += 1 }
      sink += x
    }._1))
    val floor = median((1 to 5).map(_ =>
      timed(noop(spark.range(1000000).toDF()))._1))
    Map("cpu_kernel_ms" -> cpu, "range_1m_noop_ms" -> floor)
  }

  private def check(name: String)(f: => (Boolean, String)): Unit = {
    val (ms, r) = timed(try f catch { case NonFatal(e) =>
      (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) })
    checks.synchronized { checks += ((name, r._1, r._2, ms)) }
  }

  /** Runs untimed work side by side: small jobs whose time is mostly
    * driver overhead, so the cores would otherwise sit idle. */
  private def concurrently(tasks: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
  }

  /** Same rows, columns aligned by name, duplicates counted (one job). */
  private def sameRows(a: DataFrame, b: DataFrame): (Boolean, String) = {
    import org.apache.spark.sql.functions.{col, lit}
    val bb = b.select(a.columns.map(col): _*)
    val diff = a.exceptAll(bb).withColumn("side", lit("only-left"))
      .unionByName(bb.exceptAll(a).withColumn("side", lit("only-right")))
      .groupBy("side").count().collect()
      .map(r => s"${r.getString(0)} ${r.getLong(1)}")
    (diff.isEmpty, if (diff.isEmpty) "same rows" else diff.mkString(", "))
  }

  /** One set-up and nothing else: the JVM run.py records the class-data
    * archive from. */
  def setUpOnly(): Unit = {
    spark = session()
    warmUp()
    spark.stop()
  }

  def run(): Map[String, Any] = {
    new File(work).mkdirs()
    // the first set-up in a JVM pays class loading; the median of three
    // is a warm restart
    val setups = 3
    val setupMs = (1 to setups).map { i =>
      val (ms, _) = timed { spark = session(); warmUp() }
      if (i < setups) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      ms
    }
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val mx = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcs.map(_.getCollectionTime).sum.toDouble
    var gcBefore = 0.0
    val t0 = System.nanoTime()
    val startWindow = () => {
      phase("before_window") = (System.nanoTime() - t0) / 1e6
      mx.foreach(_.resetPeakUsage())
      gcBefore = gcMs
    }
    workload match {
      case "interactive" => interactive(startWindow)
      case "daily_etl" => dailyEtl(startWindow)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    phase("workload") = (System.nanoTime() - t0) / 1e6
    val gcWindow = gcMs - gcBefore
    val heapPeak = mx.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val (calMs, cal) = timed(calibration())
    phase("calibration") = calMs
    val out = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup_ms" -> setupMs,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "ms" -> o.ms, "ok" -> o.ok) ++ o.extra),
      "passes_ms" -> passes, "segments" -> segments,
      "checks" -> checks.map { case (n, ok, msg, ms) =>
        Map("name" -> n, "ok" -> ok, "detail" -> msg, "ms" -> ms) },
      "jvm" -> Map("gc_ms" -> gcWindow, "heap_peak_mb" -> heapPeak),
      "calibration" -> cal,
      "info" -> info,
      "spans" -> tracer.toSeq.flatMap(_.spans).map(s => Map(
        "tag" -> s.tag, "wall_ms" -> s.wallMs, "c" -> s.c.toMap,
        "batch_jobs" -> s.batchJobs.values.toSeq)))
    spark.stop()
    out
  }

  /** Passes over the Bench headline queries from a fresh session, each
    * pass in a seeded order, every query materialized with `collect()`
    * (every column computed and returned to the driver; unlike
    * `count()`, nothing is pruned). After the measured window each
    * query's first result is written, untimed, for the DuckDB oracle
    * compare, so the check sees the very rows that were timed. */
  private def interactive(startWindow: () => Unit): Unit = {
    val names = Bench.headline
    val results = mutable.LinkedHashMap.empty[String,
      (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)]
    val rnd = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    startWindow()
    var pass = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val (passMs, _) = timed {
        rnd.shuffle(names).foreach { q =>
          val tq = System.nanoTime()
          try {
            val (buildMs, df) = span(s"$pass/$q/build") {
              val built = timed(SparkEntry.queries(q)(spark, data))
              tracer.foreach(_.built(built._2.queryExecution))
              built
            }
            val rows = span(s"$pass/$q/action")(df.collect())
            ops += Op("query", q, (System.nanoTime() - tq) / 1e6, ok = true,
              Map("pass" -> pass, "build_ms" -> buildMs))
            if (!results.contains(q)) results(q) = (rows, df.schema)
          } catch { case NonFatal(e) =>
            ops += Op("query", q, (System.nanoTime() - tq) / 1e6, ok = false,
              Map("pass" -> pass, "error" -> String.valueOf(e.getMessage).take(200)))
          }
        }
      }
      passes += passMs
      pass += 1
    }
    val checkDir = s"$work/check"
    // a query without a written result reads as MISSING-RESULT in the
    // compare
    concurrently(results.toSeq.map { case (q, (rows, schema)) => () =>
      try spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.mode("overwrite").parquet(s"$checkDir/$q")
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] writing $q failed: $e") }
    }: _*)
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json(
      names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
  }

  /** The streaming corpus ingest ladder `k` over the drop files, from
    * empty state: one file per trigger, SimHash on, compaction on every
    * 8th batch. Records one op per micro-batch from its
    * `StreamingQueryProgress`; returns the ladder's directory and wall
    * time. */
  private def ladder(k: Int, evalSet: DataFrame,
      progress: java.util.UUID => Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])
      : (String, Double) = {
    val base = s"$work/ingest/ladder_$k"
    val (ms, q) = span(s"$k/ingest")(timed {
      val q = StreamingCorpusIngest.ingest(spark, s"$data/corpus/drop",
        s"$base/target", s"$base/state", s"$base/ckpt", evalSet,
        IncrementalIngestJob.Config(), maxFilesPerTrigger = Some(1),
        withSimhash = true, compactEvery = 8)
      q.awaitTermination()
      q
    })
    org.apache.spark.perfbench.Drain(spark.sparkContext)
    q.exception.foreach(e => throw e)
    progress(q.id).filter(_.numInputRows > 0).foreach { p =>
      val d = p.durationMs.asScala.map { case (k2, v) => k2 -> v.toDouble }
      val (bytes, files) = Seq(s"target/batch_id=${p.batchId}",
        s"state/delta_${p.batchId}", s"state/after_${p.batchId}")
        .map(s => parquetFootprint(new File(s"$base/$s")))
        .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
      ops += Op("batch", s"batch_${p.batchId}",
        d.getOrElse("triggerExecution", 0.0), ok = true, Map(
          "pass" -> k, "batch_id" -> p.batchId, "docs" -> p.numInputRows,
          "add_batch_ms" -> d.getOrElse("addBatch", 0.0),
          "query_planning_ms" -> d.getOrElse("queryPlanning", 0.0),
          "wal_commit_ms" -> d.getOrElse("walCommit", 0.0),
          "write_bytes" -> bytes, "write_files" -> files))
    }
    info("state_bytes") = parquetFootprint(new File(s"$base/state"))._1
    (base, ms)
  }

  /** Passes of the paper's pipeline. A pass runs the daily ETL through
    * the CLI verbs (`backfill` up to the cut-off, one `run` per remaining
    * day, `ml-train` with a fixed tree count, `ml-predict`) into a fresh
    * warehouse, then one streaming corpus ingest ladder into fresh
    * directories. Nothing warms up beyond the session set-up: a CLI user
    * starts a fresh JVM for every verb, so the first pipeline's cold
    * costs are the ones users pay. */
  private def dailyEtl(startWindow: () => Unit): Unit = {
    val etl = s"$data/etl"
    val days = Option(new File(s"$etl/days").listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).sorted
    val drops = Option(new File(s"$data/corpus/drop").listFiles()).toSeq
      .flatten.filter(_.getName.endsWith(".parquet"))
      .sortBy(f => (f.lastModified, f.getName))
    val evalSet = spark.read.parquet(s"$data/corpus/eval.parquet").cache()
    evalSet.count()
    val progress = mutable.Map.empty[java.util.UUID,
      mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized {
          progress.getOrElseUpdate(e.progress.id, mutable.ArrayBuffer.empty) += e.progress
        }
    })
    def progressOf(id: java.util.UUID) =
      progress.synchronized(progress.getOrElse(id, Nil).toSeq)
    def verb(k: Int, v: String, dir: String, wh: String,
             opts: Map[String, String] = Map.empty): Unit = {
      val tv = System.nanoTime()
      val ok = try { span(s"$k/$v")(graft.cli.Main.run(spark, v, dir, wh, opts)); true }
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $v failed: $e"); false }
      ops += Op(v, v, (System.nanoTime() - tv) / 1e6, ok, Map("pass" -> k))
    }
    val t0 = System.nanoTime()
    startWindow()
    var k = 1
    var lastWh, lastLadder = ""
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val wh = s"$work/etl/p$k"
      val (pipelineMs, _) = timed {
        verb(k, "backfill", s"$etl/backfill", wh)
        days.foreach(d => verb(k, "run", s"$etl/days/$d", wh))
        // a fixed, small forest: ml-train's cost here is its fixed
        // feature, split, fit and save jobs, not the tree count
        verb(k, "ml-train", s"$etl/all", wh, Map("trees" -> "2"))
        verb(k, "ml-predict", s"$etl/all", wh)
      }
      // a ladder that throws counts as one failed operation; the
      // survivor check then fails on the missing output
      val (ladderMs, docs) = try {
        val (base, ms) = ladder(k, evalSet, progressOf)
        if (lastLadder.nonEmpty) deleteTree(new File(lastLadder))
        lastLadder = base
        (ms, ops.filter(o => o.kind == "batch" && o.extra("pass") == k)
          .map(_.extra("docs").asInstanceOf[Long]).sum)
      } catch { case NonFatal(e) =>
        ops += Op("batch", "ladder", 0.0, ok = false,
          Map("pass" -> k, "error" -> String.valueOf(e.getMessage).take(300)))
        (0.0, 0L)
      }
      passes += pipelineMs + ladderMs
      segments += Map("pass" -> k, "pipeline_ms" -> pipelineMs,
        "ladder_ms" -> ladderMs, "docs" -> docs)
      if (lastWh.nonEmpty) deleteTree(new File(lastWh))
      lastWh = wh
      k += 1
    }
    info("warehouse_bytes") = parquetFootprint(new File(lastWh))._1
    info("input_bytes") = drops.map(_.length).sum

    val all = Tables.events(spark, s"$etl/all")
    lazy val oneShot =
      DailyEtlJob.backfill(all, Enrichment.DeterministicProvider)._1
    concurrently(
      () => check("daily_etl:bars_equal_one_shot_backfill")(
        sameRows(spark.read.parquet(s"$lastWh/bars"), oneShot.bars)),
      () => check("daily_etl:enrichments_equal_one_shot_backfill")(
        sameRows(spark.read.parquet(s"$lastWh/enrichments"),
          oneShot.enrichments)),
      () => check("daily_etl:one_prediction_per_user") {
        val preds = spark.read.parquet(s"$lastWh/predictions")
        val rows = preds.count()
        val users = preds.select("user_id").distinct().count()
        (rows > 0 && rows == users, s"$rows rows, $users users")
      },
      // the last ladder's survivors against the same files fed in order
      // through the batch job from the same empty state, the state
      // saved and reloaded between files as the stream does
      () => check("ingest:survivors_equal_batch_job") {
        val cfg = IncrementalIngestJob.Config()
        val session = spark
        import session.implicits._
        var state = IncrementalIngestJob.State(
          Seq.empty[String].toDF("fingerprint"),
          Dedup.minhashSignatures(Seq.empty[(Long, String)].toDF("doc_id", "text"),
            k = cfg.minhashK, n = cfg.shingleN),
          simhashPrints = Some(Seq.empty[(Long, Long)].toDF("doc_id", "simhash")))
        val reference = drops.zipWithIndex.map { case (f, i) =>
          val (survivors, next, _) = IncrementalIngestJob.run(state,
            spark.read.parquet(f.getPath), evalSet, cfg)
          survivors.write.mode("overwrite").parquet(s"$work/ingest/reference/b$i")
          if (i < drops.size - 1) {
            IncrementalIngestJob.saveState(next, s"$work/ingest/reference/s$i")
            state = IncrementalIngestJob.loadState(spark, s"$work/ingest/reference/s$i")
          }
          survivors.unpersist()
          spark.read.parquet(s"$work/ingest/reference/b$i")
        }.reduce(_ unionByName _)
        val streamed = StreamingCorpusIngest.readCorpus(spark, s"$lastLadder/target")
        val (same, detail) = sameRows(reference, streamed)
        info.synchronized { info("survivors") = reference.count() }
        (same, detail)
      })
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => graft.JsonUtil.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) =>
      graft.JsonUtil.quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => graft.JsonUtil.quote(other.toString)
  }
}
