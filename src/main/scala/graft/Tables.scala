package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import scala.jdk.CollectionConverters._

/** Readers for the driver parquet fixtures (TESTDATA.md).
  *
  * All engine queries take a scale-factor directory and read from it; no
  * data is synthesized. At cluster scale these would be catalog tables
  * (partitioned by date, bucketed by key) — the read path is isolated here
  * so only this file changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job. Spark
    * infers a parquet schema in a one-task Spark job (~115 ms even in a
    * warm session) that reads a single footer when mergeSchema is off;
    * this reads that same footer on the driver, converts it as Spark
    * would, and hands the result to the reader as its schema. Paths
    * [[schemaFile]] cannot resolve go to Spark's inference unchanged. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    schemaFile(spark, path) match {
      case Some(f) => spark.read.schema(
        Bridge.parquetSchema(spark, f, Bridge.parquetFooter(spark, f)))
        .parquet(path)
      case None => spark.read.parquet(path)
    }

  /** `path` with the Hadoop FileSystem serving its scheme (`file:`,
    * `hdfs:`, `s3a:`, or the default FS for a bare path). A
    * java.io.File check reads a `file:` URI or a remote path as a
    * missing local file, so existence checks, listings and deletes
    * under a user-given dir go through this. */
  def fileSystem(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(Bridge.hadoopConf(spark)), p)
  }

  /** The one file whose footer Spark's own inference reads for `path`
    * with mergeSchema off (`ParquetUtils.inferSchema`): the path itself
    * when it is a file; in a directory `_common_metadata`, else
    * `_metadata`, else the first data file by path, among the names
    * Spark's file listing keeps. None for a glob, a missing path, a
    * directory with any subdirectory (partition columns, a streaming
    * sink's `_spark_metadata` log) or without a data file, and with
    * mergeSchema on. */
  private def schemaFile(spark: SparkSession, path: String)
      : Option[FileStatus] = {
    val (fs, p) = fileSystem(spark, path)
    if (Bridge.parquetMergeSchema(spark) ||
        path.exists("{}[]*?\\".contains(_)) || !fs.exists(p)) None
    else {
      val st = fs.getFileStatus(p)
      if (st.isFile) Some(st)
      else {
        val children = fs.listStatus(p).toSeq
        if (children.exists(_.isDirectory)) None
        else {
          // HadoopFSUtils.shouldFilterOutPathName
          def listed(n: String) =
            !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
              n.endsWith("._COPYING_")) ||
              n.startsWith("_common_metadata") || n.startsWith("_metadata")
          val files = children.filter(c => listed(c.getPath.getName))
            .sortBy(_.getPath.toString)
          val summaries = Seq("_common_metadata", "_metadata")
          summaries.flatMap(n => files.find(_.getPath.getName == n))
            .headOption
            .orElse(files.find(c => !summaries.contains(c.getPath.getName)))
        }
      }
    }
  }

  /** Name-dispatched reader that routes through the per-table accessors,
    * so tables needing read-time normalization (events' nanosecond
    * timestamps) are handled uniformly. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case other    => read(spark, dir, other)
    }

  /** Untimed warm-up before a timed leg: a one-row noop read of every
    * table compiles the scan paths and loads file metadata, so the
    * first timed query doesn't absorb it. A table that fails to read
    * is skipped here and reported by the query that needs it. */
  def warm(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      try table(spark, dir, n).limit(1).write
        .format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

  /** SQL-first entry point: register every fixture table as a temp view
    * (normalizations included), so `spark.sql("SELECT ... FROM
    * lineitem")` works directly — pair with GraftExtensions for the
    * native kernels in SQL. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))

  def region(s: SparkSession, d: String): DataFrame = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")

  /** `events.ts` has shipped in three parquet flavors across fixture
    * generations: TIMESTAMP(NANOS)-annotated INT64 (readable only as an
    * epoch-nanos LONG via the legacy nanosAsLong conf),
    * TIMESTAMP(MICROS) with isAdjustedToUTC=0 (arrives as
    * TIMESTAMP_NTZ), and adjusted-UTC TIMESTAMP(MICROS). Normalize all
    * three to the session TimestampType at this one boundary so every
    * consumer sees a plain timestamp column. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(readEventsFlavored(s, s"$d/events.parquet"))

  /** Batch read of an events parquet path (file or directory) that may
    * carry any of the three `ts` flavors. The legacy nanosAsLong session
    * conf is set ONLY when the footer actually declares TIMESTAMP(NANOS)
    * — Spark 4 refuses the scan otherwise — never preemptively, so the
    * conf cannot leak into reads of micros-flavored data. */
  def readEventsFlavored(s: SparkSession, path: String): DataFrame = {
    val nanos = schemaFile(s, path).exists { f =>
      Bridge.parquetFooter(s, f).getFileMetaData.getSchema.getColumns
        .asScala.exists(_.getPrimitiveType.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        })
    }
    if (nanos) s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquet(s, path)
  }

  /** Branch on the ARRIVED type of a timestamp column and cast to the
    * session TimestampType: LongType means epoch nanos (integer DIV, no
    * double round-trip), TIMESTAMP_NTZ means the wall-clock micros are
    * the intended instants (sessions run UTC, so the cast is
    * micros-identity), TimestampType passes through. */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"`$colName` DIV 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** Guide §2.5 "one huge unsplittable file → repartition immediately
    * after the read": a single-row-group parquet file yields a ONE-task
    * scan no matter how many cores the session has, serializing any
    * expensive per-row kernel above it (the sf0.1 fixtures are exactly
    * this shape — q33's MinHash kernel measured 0.92 s single-task vs
    * 0.62 s repartitioned, OPTIMIZATION_r12.md). Round-robin
    * repartition to session parallelism ONLY when the scan's split
    * count cannot feed half the cores; any real-scale input (and the
    * inflated bench legs, ≥cpus files) splits fine and passes through
    * untouched, so this never adds a shuffle where the layout already
    * parallelizes.
    * Deterministic: Spark's sort-before-repartition (on by default)
    * makes the round-robin assignment stable under task retries. */
  def parallelized(s: SparkSession, df: DataFrame): DataFrame = {
    val scanParts = df.rdd.getNumPartitions // plan-only, no job
    val target = s.sparkContext.defaultParallelism
    if (scanParts * 2 <= target) df.repartition(target) else df
  }
}
