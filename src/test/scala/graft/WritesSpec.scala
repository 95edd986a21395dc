package graft

import graft.operators.Writes

/** The idempotency properties the reference encodes as Postgres unique
  * constraints (SURVEY §2.1 S3/S4, §7.4 "the idempotency property test is
  * the guard"). */
class WritesSpec extends SparkSuite {
  import spark.implicits._

  private def existing = Seq((1, "a", 10), (2, "a", 20)).toDF("k", "g", "v")
  private def incoming = Seq((2, "a", 99), (3, "a", 30), (3, "a", 30))
    .toDF("k", "g", "v")

  test("insertIgnore keeps existing rows on conflict and appends the rest") {
    val out = Writes.insertIgnore(existing, incoming, Seq("k", "g"))
      .orderBy("k").as[(Int, String, Int)].collect()
    assert(out.toSeq == Seq((1, "a", 10), (2, "a", 20), (3, "a", 30)))
  }

  test("insertIgnore is idempotent: re-applying the same batch is a no-op") {
    val once = Writes.insertIgnore(existing, incoming, Seq("k", "g"))
    val twice = Writes.insertIgnore(once, incoming, Seq("k", "g"))
    assert(twice.orderBy("k").collect().toSeq ==
      once.orderBy("k").collect().toSeq)
  }

  test("upsert lets incoming win on conflict and keeps the rest") {
    val out = Writes.upsert(existing, incoming, Seq("k", "g"))
      .orderBy("k").as[(Int, String, Int)].collect()
    assert(out.toSeq == Seq((1, "a", 10), (2, "a", 99), (3, "a", 30)))
  }

  test("upsert is idempotent") {
    val once = Writes.upsert(existing, incoming, Seq("k", "g"))
    val twice = Writes.upsert(once, incoming, Seq("k", "g"))
    assert(twice.orderBy("k").collect().toSeq ==
      once.orderBy("k").collect().toSeq)
  }

  test("unenriched is the NOT EXISTS delta (stock_grok_pipeline.py:191)") {
    val enriched = Seq((1, "a", 0)).toDF("k", "g", "x")
    val out = Writes.unenriched(existing, enriched, Seq("k", "g"))
      .orderBy("k").as[(Int, String, Int)].collect()
    assert(out.toSeq == Seq((2, "a", 20)))
  }

  test("insertIgnoreBloom equals insertIgnore exactly, incl. overlap, " +
    "in-batch dups, and re-application") {
    import org.apache.spark.sql.functions._
    val big = spark.range(0, 5000)
      .select(col("id").as("k"), (col("id") % 7).cast("string").as("g"),
        (col("id") * 10).cast("int").as("v"))
    val batch = spark.range(4500, 5500)
      .select(col("id").as("k"), (col("id") % 7).cast("string").as("g"),
        lit(-1).as("v"))
      .unionAll(spark.range(4600, 4700).select(col("id").as("k"),
        (col("id") % 7).cast("string").as("g"), lit(-2).as("v")))
    val plain = Writes.insertIgnore(big, batch, Seq("k", "g"))
      .orderBy("k", "g").collect().toSeq
    val bloom = Writes.insertIgnoreBloom(big, batch, Seq("k", "g"))
      .orderBy("k", "g").collect().toSeq
    assert(bloom == plain)
    val twice = Writes.insertIgnoreBloom(
      Writes.insertIgnoreBloom(big, batch, Seq("k", "g")),
      batch, Seq("k", "g")).orderBy("k", "g").collect().toSeq
    assert(twice == plain) // idempotent
  }

  test("insertIgnoreBloom with an empty batch returns existing unchanged") {
    import org.apache.spark.sql.functions._
    val big = spark.range(0, 50)
      .select(col("id").as("k"), (col("id") * 10).cast("int").as("v"))
    val empty = big.limit(0)
    val out = Writes.insertIgnoreBloom(big, empty, Seq("k"))
    assert(out.orderBy("k").collect().toSeq ==
      big.orderBy("k").collect().toSeq)
  }

  test("applyCdc: latest change per key wins — delete removes, update " +
    "replaces, untouched keys survive, stale changes are ignored") {
    val table = Seq((1, "a", 10), (2, "a", 20), (3, "a", 30))
      .toDF("k", "g", "v")
    // key 1: U then D (latest) → deleted; key 2: D then U → value 99;
    // key 4: pure insert; key 3: untouched
    val changes = Seq(
      (1, "a", 11, 1, "U"), (1, "a", 0, 2, "D"),
      (2, "a", 0, 1, "D"), (2, "a", 99, 2, "U"),
      (4, "a", 40, 1, "U")
    ).toDF("k", "g", "v", "seq", "op")
    val out = Writes.applyCdc(table, changes, Seq("k", "g"))
      .orderBy("k").as[(Int, String, Int)].collect().toSeq
    assert(out == Seq((2, "a", 99), (3, "a", 30), (4, "a", 40)))
    // idempotent: replaying the same change feed is a no-op
    val twice = Writes.applyCdc(
      Writes.applyCdc(table, changes, Seq("k", "g")),
      changes, Seq("k", "g")).orderBy("k")
      .as[(Int, String, Int)].collect().toSeq
    assert(twice == out)
  }

  test("applyCdc: a null op upserts (never silently deletes), and " +
    "(key, seq, op) ties resolve deterministically by the value struct") {
    val table = Seq((1, "a", 10)).toDF("k", "g", "v")
    val nullOp = Seq((1, "a", 42, 1, null.asInstanceOf[String]))
      .toDF("k", "g", "v", "seq", "op")
    val out = Writes.applyCdc(table, nullOp, Seq("k", "g"))
      .as[(Int, String, Int)].collect().toSeq
    assert(out == Seq((1, "a", 42)))
    // same key+seq+op twice with different values: highest value struct
    // wins, on every run
    val tied = Seq((1, "a", 7, 5, "U"), (1, "a", 9, 5, "U"))
      .toDF("k", "g", "v", "seq", "op")
    (1 to 3).foreach { _ =>
      val t = Writes.applyCdc(table, tied.repartition(4), Seq("k", "g"))
        .as[(Int, String, Int)].collect().toSeq
      assert(t == Seq((1, "a", 9)))
    }
  }

  test("insertIgnoreBloom detects conflicts across key dtype mismatch " +
    "(hash normalized to the existing schema's types)") {
    import org.apache.spark.sql.functions._
    val big = spark.range(0, 100).select(col("id").as("k"),
      col("id").cast("int").as("v")) // k: LONG
    val batch = spark.range(90, 110)
      .select(col("id").cast("int").as("k"), lit(-1).as("v")) // k: INT
    val plain = Writes.insertIgnore(big, batch, Seq("k"))
      .orderBy("k").collect().toSeq
    val bloom = Writes.insertIgnoreBloom(big, batch, Seq("k"))
      .orderBy("k").collect().toSeq
    assert(bloom == plain)
    assert(bloom.size == 110) // 100 kept + 10 genuinely new
  }

  test("insertIgnoreBloom never shuffles the existing table: its only " +
    "hash Exchange is the incoming-batch dedup") {
    import org.apache.spark.sql.functions._
    val big = spark.range(0, 1000).select(col("id").as("k"),
      lit("a").as("g"), col("id").cast("int").as("v"))
    val batch = spark.range(990, 1010).select(col("id").as("k"),
      lit("a").as("g"), lit(-1).as("v"))
    val p = Writes.insertIgnoreBloom(big, batch, Seq("k", "g"))
      .queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain"), s"probe missing:\n$p")
    assert(p.contains("BroadcastExchange"), s"conflicts not broadcast:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 1, s"expected at most the batch-dedup shuffle:\n$p")
  }

  test("scd2History: upserts become intervals, a delete closes its " +
    "predecessor and emits nothing, latest upsert stays open") {
    import org.apache.spark.sql.functions._
    val ch = Seq(
      // key 1: v=10 @t1, v=20 @t3, delete @t5 -> two closed intervals
      (1L, 1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1)), 10.0, "U"),
      (1L, 2L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(3)), 20.0, "U"),
      (1L, 3L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(5)), 0.0, "D"),
      // key 2: one upsert -> open and current
      (2L, 4L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(2)), 7.0, "U")
    ).toDF("k", "eid", "ts", "v", "op")
    val out = Writes.scd2History(ch, Seq("k"), "ts", "eid")
      .select("k", "eid", "v", "valid_from_us", "valid_to_us",
        "is_current")
      .as[(Long, Long, Double, Long, Option[Long], Long)]
      .collect().sortBy(r => (r._1, r._4))
    assert(out.toSeq == Seq(
      (1L, 1L, 10.0, 1000000L, Some(3000000L), 0L),
      (1L, 2L, 20.0, 3000000L, Some(5000000L), 0L),
      (2L, 4L, 7.0, 2000000L, None, 1L)))
  }

  test("scd2: [x x y x] folds to three versions with day-grained " +
    "validity; a revisited value opens a NEW version") {
    import org.apache.spark.sql.functions._
    val obs = Seq((1L, "2024-05-01", "x"), (1L, "2024-05-02", "x"),
        (1L, "2024-05-03", "y"), (1L, "2024-05-04", "x"))
      .toDF("user_id", "d", "state")
      .select(col("user_id"), to_date(col("d")).as("date"), col("state"))
    val out = Writes.scd2(obs, "user_id", "state", "date")
      .orderBy("version")
      .select(col("state"), col("version"),
        date_format(col("effective_from"), "yyyy-MM-dd"),
        date_format(col("effective_to"), "yyyy-MM-dd"),
        col("is_current"))
      .as[(String, Long, String, Option[String], Boolean)]
      .collect().toSeq
    assert(out == Seq(
      ("x", 1L, "2024-05-01", Some("2024-05-02"), false),
      ("y", 2L, "2024-05-03", Some("2024-05-03"), false),
      ("x", 3L, "2024-05-04", None, true)))
  }

  test("snapshotDiff labels added/removed/changed/unchanged, with " +
    "null-safe payload comparison") {
    val vOld = Seq(
      (1L, Option("a"), Option("en")),   // unchanged
      (2L, Option("b"), Option("en")),   // changed (lang)
      (3L, Option("c"), Option("de")),   // removed
      (4L, None,        Option("fr")),   // null -> value: changed
      (5L, None,        Option("it"))    // null -> null: unchanged
    ).toDF("doc_id", "text", "lang")
    val vNew = Seq(
      (1L, Option("a"), Option("en")),
      (2L, Option("b"), Option("EN")),
      (4L, Option("x"), Option("fr")),
      (5L, None,        Option("it")),
      (6L, Option("f"), Option("es"))    // added
    ).toDF("doc_id", "text", "lang")
    val out = Writes.snapshotDiff(vOld, vNew, Seq("doc_id"),
        Seq("text", "lang"))
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "changed"), (5L, "unchanged"),
      (6L, "added")))
  }

  test("snapshotDiff distinguishes a null payload from an empty " +
    "string and refuses empty key/compare lists") {
    // null vs "" must differ (the u0002 sentinel makes them distinct
    // fingerprint inputs); shifting content across the column split
    // must read as changed, not alias
    val a = Seq((1L, Option.empty[String], Option("x")),
      (2L, Option("p"), Option("q"))).toDF("doc_id", "c1", "c2")
    val b = Seq((1L, Option(""), Option("x")),
      (2L, Option("p\u0001q"), Option.empty[String]))
      .toDF("doc_id", "c1", "c2")
    val out = Writes.snapshotDiff(a, b, Seq("doc_id"), Seq("c1", "c2"))
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "changed"), (2L, "changed")))
    intercept[IllegalArgumentException] {
      Writes.snapshotDiff(a, b, Seq.empty, Seq("c1"))
    }
    intercept[IllegalArgumentException] {
      Writes.snapshotDiff(a, b, Seq("doc_id"), Seq.empty)
    }
  }

  test("snapshotDiff validateUniqueKeys rejects a duplicate-keyed " +
    "snapshot loudly instead of fanning out conflicting verdicts") {
    val clean = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val duped = Seq((1L, "a"), (1L, "b"), (2L, "c"))
      .toDF("doc_id", "text")
    // clean sides pass with the guard on
    val ok = Writes.snapshotDiff(clean, clean, Seq("doc_id"),
        Seq("text"), validateUniqueKeys = true)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(ok == Seq((1L, "unchanged"), (2L, "unchanged")))
    val e = intercept[IllegalArgumentException] {
      Writes.snapshotDiff(clean, duped, Seq("doc_id"), Seq("text"),
        validateUniqueKeys = true)
    }
    assert(e.getMessage.contains("new snapshot has 3 rows"))
    // and the default stays the pure two-scan path (no validation):
    // the duplicate fans out, documented behavior under the contract
    assert(Writes.snapshotDiff(clean, duped, Seq("doc_id"), Seq("text"))
      .count() == 3)
  }
}
