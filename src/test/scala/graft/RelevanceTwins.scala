package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference formulations of [[graft.operators.Relevance]] operators
  * that the specs pin the native forms to cell for cell. */
object RelevanceTwins {

  /** Relational twin of [[graft.operators.Relevance.charEntropy]]:
    * explode each doc into characters, count per (doc, char), and sum
    * the micro-nat terms `c · round(ln(c/n), 6)` through the DECIMAL
    * bridge — the formulation the fused kernel must match cell for
    * cell. Two hash aggregates keyed by doc. */
  def charEntropy(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id",
                  minEntropy: Double = 2.0): DataFrame = {
    val ch = docs.select(col(idCol),
        explode(split(col(textCol), "")).as("ch"))
      .where(col("ch") =!= "")
    val cf = ch.groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("c"))
    val tot = cf.groupBy(col(idCol))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"))
    val term = (col("c").cast("decimal(12,0)") *
      round(log(col("c").cast("double") / col("n")), 6)
        .cast("decimal(10,6)")).cast("decimal(28,6)")
    val summed = cf.join(tot, Seq(idCol))
      .withColumn("_t", term)
      .groupBy(col(idCol))
      .agg(max(col("n")).as("n"), max(col("n_distinct")).as("nd"),
        sum(col("_t")).as("_s"))
    val su = (-col("_s") * 1000000).cast("long") // micro-nats, ≥ 0
    val h4 = call_function("div", su * 2 + col("n") * 100, col("n") * 200)
    val scored = summed.select(col(idCol),
      col("n").cast("long").as("n_chars_counted"),
      col("nd").as("n_distinct_chars"),
      (h4.cast("double") / 10000).as("entropy"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chars_counted"), lit(0L)).as("n_chars_counted"),
        coalesce(col("n_distinct_chars"), lit(0L)).as("n_distinct_chars"),
        col("entropy"),
        coalesce(col("entropy") >= minEntropy, lit(false)).as("keep"))
  }
}
