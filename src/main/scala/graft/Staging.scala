package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Eager, lineage-cutting staging of a frame, and the release of the
  * blocks behind it.
  *
  * A staged frame is a `localCheckpoint`: one job materializes its rows
  * into the block manager and the returned frame's plan is a bare
  * `LogicalRDD`. Plans built on it stay small — unlike a cached frame,
  * whose `InMemoryRelation` carries (and prints, on every SQL-execution
  * and AQE event) the whole physical plan beneath it. The rows keep the
  * partition layout the lazy, AQE-coalesced plan produces.
  *
  * `unpersist()` is a no-op on a staged frame: it is not in the cache
  * manager. Its blocks go through [[release]], or stay until Spark's
  * ContextCleaner reclaims the RDD after the frame is garbage. */
object Staging {

  /** `df` materialized once, lineage cut. `coalesce = false` stages the
    * uncoalesced shuffle layout instead, with AQE partition coalescing
    * off for the one staging job. `name` labels the staged RDD, the way
    * it shows in `SparkContext.getPersistentRDDs`. */
  def checkpoint(df: DataFrame, name: Option[String] = None,
                 coalesce: Boolean = true): DataFrame = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = conf.getOption(key)
    if (!coalesce) conf.set(key, "false")
    val staged =
      try df.localCheckpoint()
      finally if (!coalesce) prior.fold(conf.unset(key))(conf.set(key, _))
    name.foreach(n => rdds(staged).foreach(_.setName(n)))
    staged
  }

  /** The RDDs whose blocks back a staged frame. */
  private def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }

  /** Drop the blocks behind a staged frame. The frame must not be read
    * afterwards: a local checkpoint has no lineage to recompute from. */
  def release(df: DataFrame, blocking: Boolean = true): Unit =
    rdds(df).foreach(_.unpersist(blocking))

  /** Runs `f` over `df` staged once ([[checkpoint]]), then releases the
    * staged blocks. `localCheckpoint`, not `persist`, where the rows
    * feed a model: MLlib's random-forest bagging and split sampling
    * seed per partition, and tree learners sum non-integer sample
    * weights partition by partition. A persisted frame keeps its
    * uncoalesced shuffle partitions (3 where the lazy plan read 1 on a
    * 40-user feed) and trains a different forest. */
  def withLocalCheckpoint[T](df: DataFrame, coalesce: Boolean = true)(
      f: DataFrame => T): T = {
    val staged = checkpoint(df, coalesce = coalesce)
    try f(staged)
    finally release(staged)
  }
}
