package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unique-key write semantics re-expressed as set operations.
  *
  * Postgres enforced these with constraints; Spark has none, so idempotency
  * becomes explicit relational algebra (SURVEY §2.1 S3/S4, §7.4). At
  * warehouse scale these become a MERGE against a transactional table
  * format; the set-op formulation here is the engine-agnostic core.
  */
object Writes {

  /** In-batch key dedup, deterministically: the first row per key
    * under the (value columns ASC NULLS FIRST) total preference order
    * — exactly the row `min(struct(values))` selects (struct ordering
    * compares fields in sequence with the same null placement;
    * equivalence pinned in WritesSpec), so re-runs pick the same
    * representative. r13: the row_number top-1 replaces the
    * min(struct) aggregate because struct-valued buffers are not
    * hash-aggregable — the old form planned a SortAggregate PAIR,
    * while this form's WindowGroupLimit partial prunes to one row per
    * key per partition BELOW the exchange (the same shape that beat
    * min_by in the r12 q18 A/B; 128× A/B in OPTIMIZATION_r13.md
    * item 4: 3.74→3.57 /
    * 3.52→3.41 s over two fresh-JVM samples, and flatter run-to-run). */
  private def dedupeByKey(incoming: DataFrame, keys: Seq[String],
                          targetCols: Seq[String]): DataFrame = {
    val valueCols = incoming.columns.filterNot(keys.contains)
    if (valueCols.isEmpty) // key-only table: any duplicate is identical
      incoming.dropDuplicates(keys).select(targetCols.map(col): _*)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(valueCols.map(c => col(c).asc): _*)
      incoming
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(targetCols.map(col).toIndexedSeq: _*)
    }
  }

  /** `INSERT ... ON CONFLICT DO NOTHING` keyed by `keys`
    * (reference: airflow/dags/stock_grok_pipeline.py:84-97): keep all
    * existing rows; append only incoming rows whose key is absent.
    * Also dedups within the incoming batch. */
  def insertIgnore(existing: DataFrame, incoming: DataFrame,
                   keys: Seq[String]): DataFrame =
    existing.unionByName(
      dedupeByKey(incoming, keys, existing.columns.toIndexedSeq)
        .join(existing.select(keys.map(col): _*).distinct(),
          keys, "left_anti"))

  /** `INSERT ... ON CONFLICT DO UPDATE` (upsert) keyed by `keys`
    * (reference: ml/data_loader.py:140-160): incoming wins on key clash;
    * existing rows with no clash survive. One set-oriented plan replaces
    * the reference's row-at-a-time loop. */
  def upsert(existing: DataFrame, incoming: DataFrame,
             keys: Seq[String]): DataFrame = {
    val dedupedIncoming =
      dedupeByKey(incoming, keys, existing.columns.toIndexedSeq)
    existing
      .join(dedupedIncoming.select(keys.map(col): _*).distinct(),
        keys, "left_anti")
      .unionByName(dedupedIncoming)
  }

  /** Delta detection: rows in `all` not yet enriched — the NOT EXISTS
    * anti-join that gates the reference's API calls
    * (reference: airflow/dags/stock_grok_pipeline.py:191-194). */
  def unenriched(all: DataFrame, enriched: DataFrame,
                 keys: Seq[String]): DataFrame =
    all.join(enriched.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** CDC apply — the MERGE-with-deletes shape: fold a change feed
    * (insert/update/delete rows keyed by `keys`, ordered by `seqCol`)
    * into the existing table. Per key, only the LATEST change acts:
    * 'D' removes the row, anything else — including a null op —
    * upserts the change's values.
    * Unchanged keys pass through. One window over the (small) change
    * feed + the upsert set algebra — the existing table is touched only
    * by the key anti-join, exactly like [[upsert]]; at warehouse scale
    * this is the engine-agnostic core of `MERGE WHEN MATCHED [AND
    * op='D'] THEN DELETE`. */
  def applyCdc(existing: DataFrame, changes: DataFrame,
               keys: Seq[String], opCol: String = "op",
               seqCol: String = "seq"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyCols = keys.map(col)
    // deterministic change order: seq, then op ('U' above 'D' on an
    // exact tie, nulls last), then the value struct — a (key, seq,
    // op)-tied feed must still pick the same row on every run or
    // replays stop being no-ops
    val tieCols = changes.columns.toIndexedSeq.filterNot(c =>
      keys.contains(c) || c == opCol || c == seqCol)
    val tie = if (tieCols.isEmpty) lit(0)
              else struct(tieCols.map(col): _*)
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col(seqCol).desc, col(opCol).desc_nulls_last, tie.desc)
    val latest = changes
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1).drop("_rk")
    // null-safe: a null op is NOT a delete — it upserts (the =!= form
    // would silently drop the row AND anti-join the existing one away)
    val upserts = latest.filter(!(col(opCol) <=> "D"))
      .drop(opCol, seqCol)
      .select(existing.columns.map(col).toIndexedSeq: _*)
    existing
      .join(latest.select(keyCols: _*), keys, "left_anti")
      .unionByName(upserts)
  }

  /** Snapshot diff — the REVERSE of [[applyCdc]]: given two versions of
    * a table, derive the change set between them. One row per key
    * present in either snapshot, labeled `added` (new only), `removed`
    * (old only), `changed` (both, compareCols differ) or `unchanged` —
    * the reconciliation/audit view a pipeline runs after every corpus
    * re-build, and the input a downstream incremental consumer replays.
    *
    * Scale shape: each side is PROJECTED to (keys, md5 row fingerprint)
    * before the full-outer join, so the one unavoidable shuffle carries
    * a fixed-width row no matter how wide the payload is (diffing a
    * 100 TB text corpus moves only ids + 32-char digests). The
    * fingerprint concatenates compareCols with a \u0001 separator and a
    * \u0002 null sentinel — null-safe and engine-replayable (the q347
    * oracle compares the raw columns with IS DISTINCT FROM; the two
    * verdicts agree unless a payload embeds those control bytes, which
    * the fingerprint shares with every md5 dedup oracle in the gate).
    *
    * CONTRACT: `keys` must be unique within each snapshot (the usual
    * table-version invariant). Duplicate keys fan out through the
    * full-outer join and emit multiple — potentially conflicting —
    * verdicts for the same key. `validateUniqueKeys = true` checks the
    * invariant up front (one count + one distinct-count action per
    * side — cheap next to the diff, but off by default so the pure
    * two-scan shape stays the production path) and fails loudly
    * instead of emitting fan-out verdicts.
    *
    * Returns (keys*, change) — join `added`/`changed` keys back to the
    * new snapshot when the consumer needs payloads (keys-only probe,
    * the [[unenriched]] delta discipline). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keys: Seq[String],
                   compareCols: Seq[String],
                   validateUniqueKeys: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    require(compareCols.nonEmpty,
      "snapshotDiff needs at least one compare column")
    if (validateUniqueKeys)
      Seq("old" -> oldSnap, "new" -> newSnap).foreach { case (side, df) =>
        val keyed = df.select(keys.map(col): _*)
        val (total, distinct) = (keyed.count(), keyed.distinct().count())
        require(total == distinct,
          s"snapshotDiff: $side snapshot has $total rows but only " +
            s"$distinct distinct keys (${keys.mkString(", ")}) — " +
            "duplicate keys would fan out conflicting change verdicts")
      }
    def fp(df: DataFrame, as: String): DataFrame =
      df.select(keys.map(col) :+ graft.plans.FastMd5.column(
        compareCols.map(c => coalesce(col(c).cast("string"),
            lit("\u0002")))
          .reduce((a, b) => concat(a, lit("\u0001"), b))).as(as): _*)
    fp(oldSnap, "_fp_old").join(fp(newSnap, "_fp_new"), keys, "full_outer")
      .select(keys.map(col) :+
        when(col("_fp_old").isNull, "added")
          .when(col("_fp_new").isNull, "removed")
          .when(col("_fp_old") =!= col("_fp_new"), "changed")
          .otherwise("unchanged").as("change"): _*)
  }

  /** SCD type-2 history from a change stream: each upsert becomes a
    * validity interval [its change time, the key's NEXT change time);
    * the key's latest interval stays open (`is_current`) unless a
    * delete closed it — deletes emit no row of their own, they only
    * terminate the predecessor via the same `lead`. The dimension-
    * history view every warehouse keeps next to [[applyCdc]]'s
    * point-in-time state.
    *
    * One window per key (single shuffle on the key columns), ordered
    * by (`tsCol`, `tieCol`) so same-timestamp changes resolve
    * deterministically. Output: the change columns minus `opCol`,
    * plus `valid_from_us` / `valid_to_us` (epoch micros; open
    * intervals have null `valid_to_us`) and BIGINT `is_current` —
    * engine-portable, exact (q132 hash oracle). */
  def scd2History(changes: DataFrame, keys: Seq[String],
                  tsCol: String, tieCol: String,
                  opCol: String = "op"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    changes
      .withColumn("_to", lead(unix_micros(col(tsCol)), 1).over(w))
      .filter(!(col(opCol) <=> "D"))
      .withColumn("valid_from_us", unix_micros(col(tsCol)))
      .withColumn("valid_to_us", col("_to"))
      .withColumn("is_current", col("_to").isNull.cast("long"))
      .drop("_to", opCol, tsCol)
  }

  /** Insert-ignore for the warehouse-scale shape: `existing` is huge
    * (the 100 TB table), `incoming` is a bounded batch. The plain
    * formulation anti-joins against ALL existing keys — a full shuffle
    * (or at best a giant scan into a shuffle) of the big side on every
    * batch. Here a Bloom filter built over the batch's keys (driver-side,
    * MBs) probes the EXISTING scan map-side; only the probe's hits — true
    * conflicts plus `fpp` false positives — flow into a broadcast
    * anti-join that resolves them exactly. No false negatives means every
    * real conflict reaches the broadcast side, so the result equals
    * `insertIgnore` exactly; the existing table's bytes never shuffle.
    *
    * Both sides hash their keys cast to the EXISTING schema's types:
    * xxhash64 is type-sensitive (hash of 1:INT ≠ hash of 1:LONG), while
    * the resolving join coerces — without the cast, a dtype mismatch
    * between batch and table would silently disable conflict detection.
    *
    * Size the trade: broadcast side ≈ |incoming ∩ existing| +
    * fpp·|existing|. The default fpp=1e-6 keeps a trillion-row existing
    * table's false positives around 10⁶ rows (megabytes of keys).
    * `expectedItems` sizes the filter without the extra count pass when
    * the batch size is already known (the usual ingest case); a bound
    * of zero is an empty batch, which returns `existing` as it is. The
    * local ScaleCheck contrast is honest about single-node sizes: the
    * filter build ≈ the saved shuffle at 3.2M existing rows — the win
    * is that the existing-side cost grows with the table under the
    * plain plan and stays O(batch) here. */
  def insertIgnoreBloom(existing: DataFrame, incoming: DataFrame,
                        keys: Seq[String], fpp: Double = 1e-6,
                        expectedItems: Option[Long] = None): DataFrame = {
    val keyTypes = keys.map(k => existing.schema(k).dataType)
    graft.plans.BloomFns.probe(existing, keys.map(col), incoming,
        keys.zip(keyTypes).map { case (k, t) => col(k).cast(t) },
        expectedItems, fpp)
      .fold(existing) { hits =>
        existing.unionByName(
          dedupeByKey(incoming, keys, existing.columns.toIndexedSeq)
            .join(broadcast(hits.select(keys.map(col): _*)), keys,
              "left_anti"))
      }
  }

  /** Slowly-changing-dimension Type 2 history from an observed
    * attribute series — the CHANGE-DETECTION variant: the input is
    * periodic snapshots (every observation, changed or not), and rows
    * where `attr` differs from the key's previous observation open a
    * new version ([[scd2History]] is the complementary CDC-log
    * variant, where every input row IS a change/delete). Surviving
    * rows get `[effective_from, effective_to]` validity (day-grained,
    * `effective_to` = day before the next change, NULL while current)
    * and a per-key `version` counter. Two window passes over the SAME
    * (key × time) sort — one Exchange; output size is the number of
    * changes, not observations. */
  def scd2(df: DataFrame, key: String, attr: String,
           timeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col(timeCol))
    val changed = df
      .withColumn("_prev", lag(col(attr), 1).over(w))
      .where(col("_prev").isNull || col(attr) =!= col("_prev"))
    changed
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("effective_from", col(timeCol))
      .withColumn("effective_to",
        date_sub(lead(col(timeCol), 1).over(w), 1))
      .withColumn("is_current", col("effective_to").isNull)
      .select(col(key), col(attr), col("version"),
        col("effective_from"), col("effective_to"), col("is_current"))
  }
}
