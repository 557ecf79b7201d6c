package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed last-writer-wins MERGE — the reference's single "query"
  * (O14): `INSERT … ON CONFLICT (shipment_id) DO UPDATE SET …`
  * (`cocoa_processing_dag.py:223-237`), i.e. last writer wins per key,
  * where "last" within one batch is the latest `processed_at` (ties
  * broken arbitrarily-but-deterministically).
  *
  * Implementation is two built-in operators — no custom Catalyst
  * needed (SURVEY.md §4):
  *
  *  1. within-batch dedup: `row_number()` over
  *     `partitionBy(key).orderBy(ord desc)` — one shuffle on the key;
  *  2. upsert: `target ANTI JOIN updates ON key` (keep target rows
  *     whose key is not updated) `UNION ALL` the deduped updates —
  *     semantically identical to a full-outer coalesce merge but
  *     cheaper: the anti join is a plain shuffled (or broadcast, when
  *     the update batch is small — AQE decides) hash join and the
  *     union is free.
  *
  * Scale: both steps shuffle on the merge key only. With a target
  * bucketed/pre-partitioned by key the anti join avoids re-shuffling
  * the big side; daily-batch-vs-100TB-target asymmetry makes the
  * broadcast-anti plan the expected one.
  */
object Merge {

  /** Keep exactly one row per key: the greatest by `ord`, then by
    * `tieBreakers` (all descending) so results are deterministic even
    * for equal-`ord` duplicates inside one batch. */
  def lastWriterWins(updates: DataFrame, key: String, ord: Column,
      tieBreakers: Seq[Column] = Seq.empty): DataFrame = {
    val w = Window.partitionBy(key)
      .orderBy((ord.desc +: tieBreakers.map(_.desc)): _*)
    updates.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Align `df` to the authoritative column set by NAME: missing
    * columns fill with typed nulls (the additive-schema-evolution
    * contract — a batch written before a column existed merges with
    * nulls there), extra columns are dropped (the target schema is
    * authoritative; widening happens by reading the TARGET under the
    * widened schema, see [[Warehouse.read]]).
    *
    * Name matching follows the session's resolver
    * (`spark.sql.caseSensitive`, default case-INSENSITIVE) — an exact
    * `df.columns.contains` here would silently null-fill a column that
    * differs only in case while every other resolution path in the
    * query would have matched it, dropping the batch's data. A name
    * that matches more than one update column case-insensitively is
    * ambiguous and fails loudly. */
  private def alignTo(df: DataFrame, authoritative: org.apache.spark.sql.types.StructType): DataFrame = {
    val caseSensitive = df.sparkSession.sessionState.conf.caseSensitiveAnalysis
    def same(a: String, b: String) =
      if (caseSensitive) a == b else a.equalsIgnoreCase(b)
    df.select(authoritative.map { f =>
      df.columns.filter(same(_, f.name)) match {
        case Array() => lit(null).cast(f.dataType).as(f.name)
        case Array(one) => col(one).as(f.name)
        case many => throw new IllegalArgumentException(
          s"update columns ${many.mkString(", ")} all resolve to " +
            s"authoritative column '${f.name}' under the session's " +
            s"case-insensitive resolution")
      }
    }.toSeq: _*)
  }

  /** Upsert `updates` into `target` on `key`, last writer (by `ord`)
    * winning both within the batch and against the existing table.
    * Update columns align to the target's schema by name — missing
    * (pre-evolution) columns null-fill, extras drop ([[alignTo]]).
    *
    * The deduped update KEY SET is broadcast into the anti join — the
    * expected plan for the batch-vs-warehouse asymmetry (a daily
    * batch's key set is MBs while the target is the 100 TB side; the
    * big side then streams with no shuffle). */
  def upsert(target: DataFrame, updates: DataFrame, key: String, ord: Column,
      tieBreakers: Seq[Column] = Seq.empty): DataFrame = {
    val deduped = lastWriterWins(updates, key, ord, tieBreakers)
    target.join(broadcast(deduped.select(col(key))), Seq(key), "left_anti")
      .unionByName(alignTo(deduped, target.schema))
  }

  /** Order-based merge: the greatest-`ord` row wins across target AND
    * updates — one union + one keyed window (a single shuffle).
    * Unlike [[upsert]] (reference parity: the applied batch
    * unconditionally overwrites, like `ON CONFLICT DO UPDATE`), this
    * variant is commutative across batches and therefore the right
    * tool when batches can arrive out of order / late. */
  def mergeByOrd(target: DataFrame, updates: DataFrame, key: String, ord: Column,
      tieBreakers: Seq[Column] = Seq.empty): DataFrame =
    lastWriterWins(
      target.unionByName(alignTo(updates, target.schema)),
      key, ord, tieBreakers)

  /** SQL-standard conditional MERGE INTO — the general form of which
    * [[upsert]] is the unconditional special case: per matched key,
    * WHEN MATCHED AND <delete-cond> THEN DELETE, else WHEN MATCHED
    * AND <update-cond> THEN UPDATE (take the source row), else keep
    * the target row; per unmatched source key, WHEN NOT MATCHED AND
    * <insert-cond> THEN INSERT. Clause order (delete before update)
    * follows the standard's first-matching-clause rule. Conditions
    * see both rows as struct columns `t` and `s` (`col("t.x")`,
    * `col("s.y")`); a None condition means the clause is absent.
    *
    * The SQL standard makes a key matched by MORE THAN ONE source row
    * an error (non-deterministic merge) — enforced here DISTRIBUTED,
    * via a per-row `raise_error` behind a source-side window count:
    * the guard costs one window over the (small) source batch and
    * fires at execution, not after a silent wrong answer.
    *
    * Scale shape: ONE full-outer sort-merge join on the key with both
    * payloads packed as single structs (the [[Warehouse.diffImages]]
    * layout — no per-column join width), then a per-row codegen'd
    * CASE picks the surviving image. On a bucketed target the join
    * plans with no exchange on the big side; the source-side dup
    * guard and pack shuffle only the batch. */
  def mergeInto(target: DataFrame, source: DataFrame, keyCols: Seq[String],
      matchedDelete: Option[Column] = None,
      matchedUpdate: Option[Column] = None,
      notMatchedInsert: Option[Column] = Some(lit(true))): DataFrame = {
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    require(target.columns.sameElements(source.columns),
      s"mergeInto expects identical schemas, got" +
        s" [${target.columns.mkString(",")}] vs [${source.columns.mkString(",")}]")
    val cols = target.columns.toSeq
    def packed(df: DataFrame, as: String) =
      df.select(keyCols.map(col) :+ struct(cols.map(col): _*).as(as): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
    val src = packed(source, "s").withColumn("__nsrc", count(lit(1)).over(w))
      .withColumn("s",
        when(col("__nsrc") > 1, raise_error(concat(
          lit("MERGE source has duplicate key rows for ("),
          concat_ws(",", keyCols.map(k => col(k).cast("string")): _*),
          lit(") — a key matched by more than one source row is non-deterministic"))))
          .otherwise(col("s")))
      .drop("__nsrc")
    val joined = packed(target, "t").join(src, keyCols, "full_outer")
    val matched = col("t").isNotNull && col("s").isNotNull
    val deleteHit = matchedDelete.map(matched && _).getOrElse(lit(false))
    val updateHit = matchedUpdate.map(matched && !deleteHit && _).getOrElse(lit(false))
    val insertHit = notMatchedInsert
      .map(col("t").isNull && _).getOrElse(lit(false))
    val survivor =
      when(deleteHit, lit(null))
        .when(updateHit, col("s"))
        .when(col("t").isNotNull, col("t"))
        .when(insertHit, col("s"))
        .otherwise(lit(null))
    joined.select(survivor.as("__row"))
      .filter(col("__row").isNotNull)
      .select(cols.map(c => col(s"__row.`$c`").as(c)): _*)
  }

  /** The cocoa-specific instantiation: key = shipment_id, recency =
    * processed_at, deterministic tie-break on the event timestamp. */
  def upsertShipments(target: DataFrame, updates: DataFrame): DataFrame =
    upsert(target, updates, CocoaSchema.mergeKey,
      col("processed_at"), Seq(col("timestamp")))

  /** SLOWLY-CHANGING-DIMENSION TYPE 2 merge — the history-preserving
    * alternative to [[upsert]]'s last-writer-wins: instead of
    * overwriting a changed row, the open row is CLOSED (its
    * `valid_to_ms` stamped with the batch time) and the new image
    * opens a fresh interval. The result is a full validity-interval
    * history ("what did this dimension row say at time T?" answers
    * with one `valid_from_ms <= T < coalesce(valid_to_ms, ∞)`
    * predicate), which LWW destroys by construction.
    *
    * Semantics per batch (applied atomically, `batchMs` = the batch's
    * audit time):
    *  - the batch is LWW-deduped WITHIN itself by `ord`/`tieBreakers`
    *    first (same rule as [[lastWriterWins]]);
    *  - an open row whose key is absent from the batch: untouched
    *    (absence is not deletion — SCD2 deletions are an explicit
    *    soft-close, out of this operator's scope);
    *  - an open row whose batch image is BUSINESS-identical (every
    *    `compareCols` equal, null-safely): untouched — a re-land that
    *    only refreshed the audit stamp must not mint history;
    *  - changed: the open row closes (`valid_to_ms = batchMs`,
    *    `is_current = false`) and the batch image opens
    *    (`valid_from_ms = batchMs`, open-ended, current);
    *  - brand-new key: opens at `batchMs`;
    *  - already-closed history rows pass through untouched.
    *
    * Scale shape: one hash join of the OPEN slice against the deduped
    * batch on the key (the closed history never joins — it unions
    * straight through; on a [[Warehouse.commitBucketed]] layout even
    * that join is exchange-free), with the change test one null-safe
    * packed-struct compare, the [[Warehouse.diffImages]] trick — no
    * per-column join width, no window over the history. */
  def scd2Merge(target: DataFrame, batch: DataFrame, key: String,
      compareCols: Seq[String], batchMs: Long, ord: Column,
      tieBreakers: Seq[Column] = Seq.empty): DataFrame = {
    require(compareCols.nonEmpty, "scd2Merge needs at least one compare column")
    val bizCols = batch.columns.toSeq
    require(!bizCols.exists(Seq("valid_from_ms", "valid_to_ms", "is_current").contains),
      "batch must carry business columns only — validity columns are the operator's")
    require(compareCols.forall(bizCols.contains),
      s"compareCols ${compareCols.mkString(",")} must all be batch columns")
    require(target.columns.toSet ==
      (bizCols ++ Seq("valid_from_ms", "valid_to_ms", "is_current")).toSet,
      s"target must be batch columns + validity triple, got" +
        s" [${target.columns.mkString(",")}] vs batch [${bizCols.mkString(",")}]")
    val deduped = lastWriterWins(batch, key, ord, tieBreakers)
    val closedHistory = target.filter(!col("is_current"))
    val open = target.filter(col("is_current"))
    // open ⟕ batch on the key; batch rows carry their full image twice
    // (compare struct + columns) so no second join re-attaches them
    val b = deduped.select(col(key).as("__bk"),
      struct(compareCols.map(col): _*).as("__bcmp"),
      struct(bizCols.map(col): _*).as("__bimg"))
    val o = open.select(col("*"), struct(compareCols.map(col): _*).as("__ocmp"))
    val j = o.join(b, o(key) === b("__bk"), "full_outer")
    val matchedChanged = col("__bk").isNotNull && col(key).isNotNull &&
      !(col("__ocmp") <=> col("__bcmp"))
    val openKept = j.filter(col(key).isNotNull &&
        (col("__bk").isNull || (col("__ocmp") <=> col("__bcmp"))))
      .select(target.columns.map(col): _*)
    val closedNow = j.filter(matchedChanged)
      .select(target.columns.map {
        case "valid_to_ms" => lit(batchMs).as("valid_to_ms")
        case "is_current"  => lit(false).as("is_current")
        case c             => col(c)
      }: _*)
    val openedNow = j.filter(col("__bk").isNotNull &&
        (col(key).isNull || matchedChanged))
      .select(bizCols.map(c => col(s"__bimg.`$c`").as(c)) ++ Seq(
        lit(batchMs).as("valid_from_ms"),
        lit(null).cast("long").as("valid_to_ms"),
        lit(true).as("is_current")): _*)
      .select(target.columns.map(col): _*)
    closedHistory.unionByName(openKept).unionByName(closedNow)
      .unionByName(openedNow)
  }

  /** Bootstrap an SCD2 table from a first batch: every (LWW-deduped)
    * row opens at `batchMs`. */
  def scd2Init(batch: DataFrame, key: String, batchMs: Long, ord: Column,
      tieBreakers: Seq[Column] = Seq.empty): DataFrame =
    lastWriterWins(batch, key, ord, tieBreakers)
      .withColumn("valid_from_ms", lit(batchMs))
      .withColumn("valid_to_ms", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
}
