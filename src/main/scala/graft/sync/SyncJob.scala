package graft.sync

import graft.config.{CheckType, TableConfig}
import graft.operators.{Coerce, Incremental, Merge, Projection, Watermark}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types._

/** O11 — the per-table sync pipeline (reference: sync_table,
  * db-sync-local/sync_utils.py:239-287): introspect schema (O2), discover
  * keys (O3), read the destination watermark (O5), extract full or
  * incremental (O6/O7), coerce rows (O8), upsert into the destination
  * (O9/O10). One deterministic DataFrame pipeline per table — every stage is
  * distributed; the only driver-side value is the scalar watermark.
  */
object SyncJob {

  /** O18 — per-table outcome (mirrors the reference's stats/log lines). */
  case class SyncStats(table: String, mode: String, rowsUpserted: Long)

  /** Preserved reference quirks (§2.4): ignore-only-if-nullable projection;
    * id watermark NULL->0 (incremental always runs) vs timestamp NULL->full
    * copy; strict `>`; no delete propagation BY DEFAULT (reference parity —
    * sync_utils.py has no DELETE anywhere); all-columns key fallback.
    *
    * `propagateDeletes = true` is the documented optional mode (§2.4-1):
    * destination rows whose key vanished from the source are dropped via a
    * key-only source scan + left-semi join (Merge.applyDeletes, composed
    * after whichever merge form ran) — the incremental extract stays
    * incremental, only pk columns are re-read.
    * With no check column (full-copy branch) this composes into the full
    * refresh mode: destination == source after the run.
    *
    * `allowSchemaEvolution = true` is the opt-in for columns ADDED upstream
    * (the reference re-introspects the source schema per run,
    * sync_utils.py:195-204, so additions flow in automatically there): new
    * nullable source columns join the destination with NULL for pre-existing
    * rows; dropped/retyped columns and non-nullable additions are still
    * refused (Merge.upsertEvolving documents why). Default false = strict
    * parity: any schema drift fails loudly. */
  def run(source: TableStore, dest: TableStore, cfg: TableConfig,
          primaryKeys: Seq[String] = Seq.empty,
          jsonColumns: Set[String] = Set.empty,
          propagateDeletes: Boolean = false,
          allowSchemaEvolution: Boolean = false): SyncStats = {
    val src = source.read(cfg.name)
      .getOrElse(sys.error(s"source table not found: ${cfg.name}"))
    // O2/O4: drop ignored columns only when nullable
    val projected = Projection.ignoring(src, cfg.ignoreColumns.toSet)
    val destDf = dest.read(cfg.name)

    // O5 + O7: watermark read on the DESTINATION, then full-vs-incremental.
    // The read goes through the STORE (dest.watermark), not the already-read
    // DataFrame: JdbcStore pushes the MAX into the remote engine (one row
    // over the wire — sync_utils.py:22-25's shape) where the frame-level
    // `agg(max)` would pull the whole check column; ParquetStore's default
    // is the same partial-agg tree as before. A table that vanishes between
    // the existence read above and the watermark read maps to the same
    // semantics as an all-NULL column (id -> 0, timestamp -> full copy) —
    // the reference's own NULL branches (sync_utils.py:32-33, :259-261).
    // `strict`: the strict-`>` branch ran, so every delta row lies above
    // every destination row's check value.
    val (delta, mode, strict) = (cfg.checkColumn, cfg.checkType, destDf) match {
      case (Some(c), Some(CheckType.Id), Some(_)) =>
        // id: NULL -> 0, incremental branch always runs (sync_utils.py:32-33)
        val wm = dest.watermark(cfg.name, c).map(Watermark.idOf).getOrElse(0L)
        (Incremental.newerThan(projected, c, lit(wm)), s"incremental id > $wm", true)
      case (Some(c), Some(CheckType.Timestamp), Some(_)) =>
        dest.watermark(cfg.name, c).flatMap(Watermark.timestampOf) match {
          case Some(wm) => (Incremental.newerThan(projected, c, lit(wm)), s"incremental ts > $wm", true)
          case None     => (projected, "full (empty destination watermark)", false)
        }
      case (Some(c), Some(CheckType.Other), Some(_)) =>
        // the reference's unreachable >= branch, kept for parity (§2.4-4)
        dest.watermark(cfg.name, c).flatMap(Watermark.timestampOf) match {
          case Some(wm) => (Incremental.atLeast(projected, c, lit(wm)), s"incremental >= $wm", false)
          case None     => (projected, "full (empty destination watermark)", false)
        }
      case _ => (projected, "full", false)
    }

    // O8: columnar coercion. The O18 row count observes the DELTA (the
    // rows this sync extracted and applied — the reference's per-sync
    // stat), not the merged table: counting `merged` would report the
    // whole destination size after an incremental run. The Observation
    // rides the delta subtree of the one write pass — no extra scan — and
    // counts before any dedup, so duplicate source keys still count.
    val obs = Observation()
    def observed(df: DataFrame) = df.observe(obs, count(lit(1)).as("rows"))
    val coerced = Coerce.frame(delta, jsonColumns)

    // O3 fallback: no PK list -> all columns as the conflict key
    val pks = if (primaryKeys.nonEmpty) primaryKeys else coerced.columns.toSeq
    val base = destDf.map(Projection.ignoring(_, cfg.ignoreColumns.toSet))
    val appendOn = if (strict && !propagateDeletes) appendColumn(cfg, base, coerced, pks) else None
    appendOn match {
      case Some(c) =>
        // Insert-only: every destination row has c <= watermark (or NULL)
        // and every delta row c > watermark, and c is part of the key, so
        // no delta key is already in the destination and the upsert is
        // exactly destination ∪ dedup(delta). Ship only the delta. The
        // range partitioning on c is the window's clustering too (one
        // shuffle), and puts all rows of one c value in one partition. The
        // store lands partitions in order, so a crash mid-landing leaves a
        // c-ordered prefix and the next run's MAX watermark never passes
        // an unlanded row. The Observation sits above the range exchange:
        // the exchange's sampling job re-runs its child, and would count
        // rows below it twice.
        val ranged = observed(coerced.repartitionByRange(col(c)))
        dest.append(Merge.dedup(ranged, pks), cfg.name)
      case None =>
        // O9: relational upsert against current destination contents
        val merged: DataFrame = base match {
          case Some(b) =>
            val upserted =
              if (allowSchemaEvolution) Merge.upsertEvolving(b, observed(coerced), pks)
              else Merge.upsert(b, observed(coerced), pks)
            if (propagateDeletes)
              // key-only scan of the (coerced) source: column pruning reaches
              // the reader, so at 100 TB this reads pk bytes, not the table
              Merge.applyDeletes(upserted,
                Coerce.frame(projected, jsonColumns).select(pks.map(col): _*), pks)
            else upserted
          // bootstrap: the same dedup a later upsert would apply, so the
          // first and second runs agree on duplicate source keys
          case None => Merge.dedup(observed(coerced), pks)
        }
        // Stats fall out of the one write pass (the CollectMetrics node sits
        // on the delta subtree above). Requires dest.write to execute the
        // plan (every TableStore does — that's what "write" means).
        dest.write(merged, cfg.name)
    }
    val rows = obs.get("rows").asInstanceOf[Long]
    SyncStats(cfg.name, mode, rows)
  }

  /** The check column when a strict-`>` incremental run without delete
    * propagation may append instead of merge, None to merge. Appending is
    * exact only when:
    *  - the check column is a merge key, so a delta key cannot match a
    *    destination key (their check values lie on opposite sides of the
    *    watermark);
    *  - its type compares exactly against the watermark literal: integral
    *    for `id` (Watermark.idOf truncates through longValue, so a double id
    *    can sit above the literal), date or timestamp for `timestamp` (a
    *    string check column is stripped by Coerce after the filter ran);
    *  - the destination's columns equal the delta's, names, types and order
    *    (drift keeps the merge path: strict parity throws there, schema
    *    evolution widens there, and Merge.dedup's tie-break then sees the
    *    same column order as upsert's). */
  private def appendColumn(cfg: TableConfig, base: Option[DataFrame], coerced: DataFrame,
                           pks: Seq[String]): Option[String] = {
    def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    def exact(t: DataType) = (cfg.checkType, t) match {
      case (Some(CheckType.Id), _: ByteType | _: ShortType | _: IntegerType | _: LongType) => true
      case (Some(CheckType.Timestamp), _: DateType | _: TimestampType | _: TimestampNTZType) => true
      case _ => false
    }
    cfg.checkColumn.filter(c => pks.contains(c) &&
      base.exists(b => shape(b) == shape(coerced)) && exact(coerced.schema(c).dataType))
  }
}
