package graft

import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerDrain
import org.apache.spark.sql.types.MetadataBuilder

/** `Tables.parquet` resolves a parquet schema from one footer on the
  * driver; these pin that it reads exactly what `spark.read.parquet`
  * reads (schema with nullability and metadata, and rows), falls back
  * where Spark's inference would do more than read one footer, and
  * that building the headline queries starts no Spark job. */
class ParquetReadSpec extends SparkSuite {

  private def assertSameRead(path: String): Unit = {
    val ours = Tables.parquet(spark, path)
    val spark0 = spark.read.parquet(path)
    assert(ours.schema == spark0.schema, path)
    assert(ours.schema.json == spark0.schema.json, path)
    assert(ours.collect().toSeq == spark0.collect().toSeq, path)
  }

  test("every fixture table reads with Spark's inferred schema and " +
    "rows at sf0.001 and sf0.01") {
    for (sf <- Seq("sf0.001", "sf0.01"); t <- Tables.names)
      assertSameRead(s"/root/testdata/$sf/$t.parquet")
  }

  test("a Spark-written directory of several files reads with the " +
    "schema stored in its footers, metadata and nesting included") {
    val dir = Files.createTempDirectory("graft_parquet_read").resolve("t")
      .toString
    val meta = new MetadataBuilder().putString("comment", "kept").build()
    spark.range(0, 200, 1, 4)
      .select(col("id"), (col("id") % 7).cast("int").as("k"),
        col("id").cast("string").as("s", meta),
        struct(col("id").as("a"), array(col("id"), lit(null)).as("b"))
          .as("nested"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id") / 3.0)
          .as("d"),
        date_add(to_date(lit("2024-01-01")), (col("id") % 30).cast("int"))
          .as("day"))
      .write.parquet(dir)
    val parts = new java.io.File(dir).list()
      .count(n => n.startsWith("part-"))
    assert(parts == 4)
    assertSameRead(dir)
    assert(Tables.parquet(spark, dir).schema("s").metadata == meta)
  }

  test("a partitioned directory falls back to Spark's inference and " +
    "still reads its partition column") {
    val dir = Files.createTempDirectory("graft_parquet_part").resolve("t")
      .toString
    spark.range(0, 30).select(col("id"), (col("id") % 3).as("p"))
      .write.partitionBy("p").parquet(dir)
    assertSameRead(dir)
    assert(Tables.parquet(spark, dir).columns.toSeq == Seq("id", "p"))
  }

  test("building each headline query on sf0.001 starts no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val started = Bench.headline.map { q =>
        val before = jobs.get()
        val df: DataFrame =
          SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        assert(df.columns.nonEmpty, q)
        ListenerDrain(spark.sparkContext)
        q -> (jobs.get() - before)
      }
      assert(started.size == 21)
      assert(started.filter(_._2 != 0) == Nil)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
