package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise). */
object SparkSuite {
  lazy val spark: SparkSession = Sessions.local(4,
    // Plan strings (AQE posts one per re-plan, and the SQL status store
    // keeps them) print every cached frame's plan inline wherever it is
    // read. The incremental-ingest specs chain in-memory states whose
    // stage caches nest, so the string doubles per stage and reached
    // 400M characters, enough to exhaust the heap. Spec plans stay
    // under 12k characters, far below this bound.
    "spark.sql.maxPlanStringLength" -> "1000000")
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSuite.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
