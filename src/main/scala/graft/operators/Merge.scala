package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** O9 — upsert / merge, relational form (reference: generate_upsert_query,
  * db-sync-local/sync_utils.py:174-193 — `INSERT … ON CONFLICT (pks) DO UPDATE
  * SET col = EXCLUDED.col`).
  *
  * Relational semantics: last-writer-wins on the key — delta rows replace base
  * rows sharing the primary key; unmatched rows from both sides survive.
  * Expressed as `unionByName` + one `row_number` window partitioned by the key.
  *
  * Scale: one shuffle on the PK (the window's partitionBy). Both inputs
  * hash-partition on the same key, so AQE can coalesce; there is no join and
  * no driver materialization. It still reads and rewrites the whole base:
  * when the delta's keys provably cannot collide with the base (an
  * insert-only watermark sync, see graft.sync.SyncJob), the result is
  * base ∪ [[dedup]](delta), and the caller appends the delta alone.
  */
object Merge {

  private val PREC = "__graft_precedence"
  private val RN   = "__graft_rn"

  /** Delta wins on key conflict; both sides' unmatched rows kept.
    * Ties WITHIN a side (duplicate keys inside the delta) go to
    * [[firstPerKey]]'s deterministic row-hash tie-break. */
  def upsert(base: DataFrame, delta: DataFrame, pks: Seq[String]): DataFrame = {
    require(pks.nonEmpty, "upsert requires at least one key column (O3 falls back to all columns)")
    firstPerKey(sided(base, delta), pks, Seq(col(PREC).desc))
  }

  /** The delta-only half of [[upsert]]: one row per key, the SAME survivor
    * upsert would keep among the delta's duplicates (same `row_number`
    * window, same [[graft.sync.Checksum.rowHash]] tie-break over the
    * columns in `delta`'s order — pass the delta in the base's column order
    * for the survivor to match). With no base rows on a delta key,
    * `upsert(base, delta, pks) == base ∪ dedup(delta, pks)` as multisets.
    * The window's distribution is a clustering on `pks`, so a delta already
    * partitioned on a subset of them (e.g. range-partitioned on one key
    * column) is windowed without a second shuffle. */
  def dedup(delta: DataFrame, pks: Seq[String]): DataFrame = {
    require(pks.nonEmpty, "dedup requires at least one key column")
    firstPerKey(delta, pks, Nil)
  }

  /** Opt-in SCHEMA-EVOLUTION upsert (the last §2.4-style divergence with a
    * graded mode): the reference re-introspects the source schema every run
    * (db-sync-local/sync_utils.py:195-204), so a column ADDED upstream flows
    * into its column list automatically; [[upsert]]'s strict `unionByName`
    * instead throws on any base/delta mismatch. This variant accepts the
    * one evolution that is always safe — a NEW nullable delta column, which
    * existing destination rows take as NULL — and REFUSES the ones that
    * silently lose or corrupt data:
    *   - column dropped upstream (null-filling new rows would quietly fork
    *     the table's meaning; handle drops explicitly),
    *   - column retyped upstream (an implicit cast can truncate),
    *   - added NON-nullable column (old rows cannot satisfy it),
    *   - added column that is itself a merge key (the base has no values
    *     to match on).
    * Output schema/column order is the DELTA's (the evolved shape). Same
    * single keyed shuffle as [[upsert]] — widening the base with NULL
    * literals is a projection, not a scan. */
  def upsertEvolving(base: DataFrame, delta: DataFrame, pks: Seq[String]): DataFrame = {
    require(pks.nonEmpty, "upsertEvolving requires at least one key column")
    val baseTypes  = base.schema.map(f => f.name -> f.dataType).toMap
    val deltaTypes = delta.schema.map(f => f.name -> f.dataType).toMap
    val dropped = base.schema.map(_.name).filterNot(deltaTypes.contains)
    require(dropped.isEmpty,
      s"schema evolution refused: column(s) dropped upstream: ${dropped.mkString(", ")}")
    val retyped = base.schema.collect {
      case f if deltaTypes.get(f.name).exists(_ != f.dataType) =>
        s"${f.name}: ${f.dataType.simpleString} -> ${deltaTypes(f.name).simpleString}"
    }
    require(retyped.isEmpty,
      s"schema evolution refused: column(s) retyped upstream: ${retyped.mkString(", ")}")
    val added = delta.schema.filterNot(f => baseTypes.contains(f.name))
    val nonNullable = added.filterNot(_.nullable).map(_.name)
    require(nonNullable.isEmpty,
      s"schema evolution refused: added column(s) not nullable: ${nonNullable.mkString(", ")} " +
        "— existing destination rows would violate the constraint")
    val addedPks = added.map(_.name).filter(pks.contains)
    require(addedPks.isEmpty,
      s"schema evolution refused: added column(s) are merge keys: ${addedPks.mkString(", ")}")
    val widened = added.foldLeft(base)((b, f) =>
      b.withColumn(f.name, lit(null).cast(f.dataType)))
    upsert(widened.select(delta.columns.map(col).toIndexedSeq: _*), delta, pks)
  }

  /** Conditional upsert — "replace only if newer": the winner per key is
    * the row with the greatest `orderCols` tuple REGARDLESS of side (ties
    * go to the delta, duplicate ties within a side to a deterministic row
    * hash). This is the row-level analog of the reference's watermark
    * comparison (`WHERE check_column > value`, sync_utils.py:63-68) and
    * the semantics that make out-of-order delivery safe: a stale delta
    * row cannot clobber a fresher destination row, so applying deltas in
    * ANY batch order converges to the same table — the property
    * streaming.IncrementalStream.upsertSync relies on for multi-batch
    * determinism. Same single keyed shuffle as upsert(). */
  def upsertIfNewer(base: DataFrame, delta: DataFrame, pks: Seq[String],
                    orderCols: Seq[String]): DataFrame = {
    require(pks.nonEmpty, "upsertIfNewer requires at least one key column")
    require(orderCols.nonEmpty, "upsertIfNewer requires at least one precedence column")
    firstPerKey(sided(base, delta), pks, orderCols.map(col(_).desc) :+ col(PREC).desc)
  }

  /** Opt-in delete propagation (SURVEY §2.4-1: the reference never deletes —
    * rows removed upstream persist in the destination forever; this is the
    * documented optional mode that fixes it WITHOUT a full re-copy): keep
    * only `merged` rows whose key still exists in `sourceKeys`. SyncJob
    * composes it after [[upsert]] or [[upsertEvolving]].
    *
    * `sourceKeys` is the CURRENT source key set — at scale a column-pruned,
    * key-only scan (pks reach the parquet/JDBC reader via ReadSchema /
    * SELECT pk list), orders of magnitude cheaper than re-extracting rows.
    *
    * Scale: the semi join keys on the same pks the upsert window already
    * hash-partitioned on, so the left side arrives pre-partitioned and only
    * the (narrow) key relation shuffles; AQE broadcasts it when small.
    */
  def applyDeletes(merged: DataFrame, sourceKeys: DataFrame, pks: Seq[String]): DataFrame =
    merged.join(sourceKeys.select(pks.map(col): _*), pks, "left_semi")

  /** Base rows tagged precedence 0, delta rows 1, unioned by name. */
  private def sided(base: DataFrame, delta: DataFrame): DataFrame =
    base.withColumn(PREC, lit(0)).unionByName(delta.withColumn(PREC, lit(1)))

  /** The one keyed-survivor window behind [[upsert]], [[upsertIfNewer]] and
    * [[dedup]]: per `pks`, keep the row that sorts first under `order`,
    * ties broken by a NULL-TAGGED hash of the row's data columns in their
    * order (Checksum.rowHash — a raw xxhash64 SKIPS null arguments, so
    * (x, NULL) and (NULL, x) would tie and the survivor would again be
    * shuffle-order-dependent) — arbitrary but DETERMINISTIC, where ordering
    * on `order` alone would let shuffle arrival order pick the survivor
    * (run-to-run nondeterminism under AQE/task retries). Drops the window's
    * and [[sided]]'s helper columns. */
  private def firstPerKey(rows: DataFrame, pks: Seq[String], order: Seq[Column]): DataFrame = {
    val data = rows.columns.filterNot(_ == PREC)
    val tieBreak = graft.sync.Checksum.rowHash(data.map(col).toIndexedSeq)
    val w = Window.partitionBy(pks.map(col): _*).orderBy(order :+ tieBreak.desc: _*)
    rows
      .withColumn(RN, row_number().over(w))
      .filter(col(RN) === 1)
      .drop(PREC, RN)
  }
}
