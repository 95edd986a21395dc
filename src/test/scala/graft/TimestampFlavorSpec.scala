package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.EventSeries
import graft.streaming.StreamingIngest

/** The events fixture has shipped `ts` as parquet TIMESTAMP(NANOS)
  * (INT64, readable only through the legacy nanosAsLong conf), as
  * TIMESTAMP(MICROS) isAdjustedToUTC=0 (TIMESTAMP_NTZ in Spark), and as
  * adjusted-UTC TIMESTAMP — and a driver regeneration can flip the
  * flavor again without notice (it did between rounds 3 and 4, silently
  * breaking the streaming reader). This spec pins the ingest boundary:
  * the same logical events written ALL three ways must produce
  * bit-identical normalized reads, daily bars, and streaming windows.
  *
  * The NANOS flavor is written with parquet-java's example writer
  * (Spark itself cannot emit TIMESTAMP(NANOS)), so the legacy-read
  * branch is exercised against a genuinely NANOS-annotated footer. */
class TimestampFlavorSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"
  // NOT .cache(): the shared-session cache manager would substitute an
  // InMemoryRelation for this exact plan fragment in OTHER suites'
  // queries (PlanShapeSpec asserts on events' PushedFilters), and the
  // fixture is 15k rows — re-reading is cheaper than the cross-suite
  // plan contamination.
  private lazy val canonical = Tables.events(spark, sfDir)

  private val nanosSchema: MessageType = Types.buildMessage()
    .required(INT64).named("event_id")
    .required(INT64)
    .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS))
    .named("ts")
    .required(INT64).named("user_id")
    .required(BINARY).as(LogicalTypeAnnotation.stringType())
    .named("event_type")
    .required(DOUBLE).named("value")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
    .named("events")

  /** Write the canonical events as TIMESTAMP(NANOS)-annotated INT64. */
  private def writeNanos(target: String): Unit = {
    val rows = canonical
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect()
    val writer = ExampleParquetWriter.builder(new Path(target))
      .withType(nanosSchema).build()
    val factory = new SimpleGroupFactory(nanosSchema)
    try rows.foreach { r =>
      val g = factory.newGroup()
      g.add("event_id", r.getLong(0))
      g.add("ts", r.getLong(1) * 1000L) // micros → nanos
      g.add("user_id", r.getLong(2))
      g.add("event_type", r.getString(3))
      g.add("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.add("props", r.getString(5))
      writer.write(g)
    } finally writer.close()
  }

  /** All three flavors as (name, path-to-events.parquet). */
  private lazy val flavors: Seq[(String, String)] = {
    val base = Files.createTempDirectory("graft_ts_flavors")
    val nanosFile = base.resolve("nanos").resolve("events.parquet")
    Files.createDirectories(nanosFile.getParent)
    writeNanos(nanosFile.toString)
    val ntzDir = base.resolve("ntz").resolve("events.parquet")
    canonical.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.parquet(ntzDir.toString)
    val utcDir = base.resolve("utc").resolve("events.parquet")
    canonical.write.parquet(utcDir.toString)
    Seq("nanos" -> nanosFile.toString, "ntz" -> ntzDir.toString,
      "utc" -> utcDir.toString)
  }

  private def normalized(path: String): DataFrame =
    Tables.normalizeTs(Tables.readEventsFlavored(spark, path))

  test("normalizeTs reads all three parquet timestamp flavors to " +
    "identical TimestampType rows") {
    flavors.foreach { case (name, path) =>
      val got = normalized(path)
      assert(got.schema("ts").dataType.typeName == "timestamp", name)
      assert(got.except(canonical).count() == 0, name)
      assert(canonical.except(got).count() == 0, name)
    }
  }

  test("Tables.parquet reads every flavor with the schema and rows " +
    "spark.read.parquet infers, NANOS under the legacy conf") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try flavors.foreach { case (name, path) =>
      val ours = Tables.parquet(spark, path)
      val inferred = spark.read.parquet(path)
      assert(ours.schema.json == inferred.schema.json, name)
      assert(ours.collect().toSeq == inferred.collect().toSeq, name)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("daily bars are flavor-independent end to end") {
    val expected = EventSeries.dailyBars(canonical)
    flavors.foreach { case (name, path) =>
      val bars = EventSeries.dailyBars(normalized(path))
      assert(bars.except(expected).count() == 0, name)
      assert(expected.except(bars).count() == 0, name)
    }
  }

  test("the streaming reader derives the right schema for every " +
    "flavor, including genuinely NANOS-annotated footers") {
    val expected = canonical
      .groupBy(col("user_id"), window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("window.start").as("start"),
        col("n_events"))
    flavors.foreach { case (name, path) =>
      val cp = Files.createTempDirectory(s"graft_flavor_cp_$name").toString
      val sink = s"flavor_out_$name"
      val q = StreamingIngest.readEvents(spark, path)
        .groupBy(col("user_id"), window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("window.start").as("start"),
          col("n_events"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table(sink)
      assert(got.except(expected).count() == 0, name)
      assert(expected.except(got).count() == 0, name)
    }
  }
}
