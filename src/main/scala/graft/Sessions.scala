package graft

import org.apache.spark.sql.SparkSession

/** The one local-session policy shared by every entry point and the
  * spec suite: `local[cpus]`, shuffle partitions = cpus, UTC session
  * time zone, no UI, WARN logging. `extra` configs apply last, so a
  * caller can override any of these (Bench's data-sized partition
  * count and AQE switches, the suite's plan-string bound). */
object Sessions {
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
