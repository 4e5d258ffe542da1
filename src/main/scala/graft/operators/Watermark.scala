package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** O5 — scalar MAX watermark read (reference: db-sync-local/sync_utils.py:17-39).
  *
  * The reference reads `SELECT MAX(check_column)` from the *destination* and
  * branches on NULLness with an id/timestamp asymmetry (sync_utils.py:32-33 vs
  * :259-261): an `id` check value of NULL becomes 0 (so the incremental branch
  * still runs, `WHERE id > 0`), while a NULL `timestamp` check value triggers
  * the full-copy branch.
  *
  * Scale: a watermark is the one legitimate driver-side scalar in the whole
  * pipeline — `agg(max)` is a partial-aggregate tree (map-side combine, then a
  * single-row final agg), so it reads every partition but moves only one value
  * per partition over the network. No `.collect()` of data rows anywhere.
  */
object Watermark {

  /** Watermark as a 1-row DataFrame (column `check_value`) — stays distributed;
    * callers compose further or collapse to a scalar with the readers below. */
  def maxOf(df: DataFrame, checkColumn: String): DataFrame =
    df.agg(max(col(checkColumn)).as("check_value"))

  /** id semantics: NULL -> 0 (sync_utils.py:32-33), as a 1-row DataFrame. */
  def idCheckValue(df: DataFrame, checkColumn: String): DataFrame =
    maxOf(df, checkColumn)
      .select(coalesce(col("check_value").cast(LongType), lit(0L)).as("check_value"))

  /** id semantics over a PRECOMPUTED 1-row `check_value` frame — the shape
    * `TableStore.watermark` hands back (for JDBC stores the MAX already ran
    * server-side; re-aggregating here would be wrong only in cost, but this
    * keeps the plan one remote row, zero engine-side aggregation). */
  def idOf(wm: DataFrame): Long = {
    val v = wm.head.get(0)
    if (v == null) 0L else v.asInstanceOf[Number].longValue
  }

  /** timestamp semantics over a precomputed 1-row `check_value` frame:
    * NULL stays None -> caller takes the full-copy branch. */
  def timestampOf(wm: DataFrame): Option[Any] = Option(wm.head.get(0))

  /** timestamp semantics, driver scalar: NULL stays None -> caller takes the
    * full-copy branch (sync_utils.py:259-261). Returned as the engine's own
    * external type (java.sql.Timestamp for TIMESTAMP, java.time.LocalDateTime
    * for TIMESTAMP_NTZ — Spark 4 infers NTZ for naive parquet timestamps), so
    * `lit(_)` round-trips it losslessly. */
  def readTimestamp(df: DataFrame, checkColumn: String): Option[Any] =
    timestampOf(maxOf(df, checkColumn))
}
