package graft.sync

import graft.SparkSpec
import graft.config.{CheckType, TableConfig}
import graft.operators.Watermark

/** O5 over JDBC — the pushdown contract: the watermark MAX must execute
  * INSIDE the remote engine (one row over the wire), never as an engine-side
  * `agg(max)` that streams the whole check column through the connection.
  * Graded end-to-end through SpyJdbc (a recording pass-through driver in
  * front of embedded Derby): the MAX really runs in Derby and the recorded
  * SQL proves where it ran. Reference semantics that must survive the
  * pushdown: id NULL -> 0 (sync_utils.py:32-33) vs timestamp NULL ->
  * full-copy (sync_utils.py:259-261).
  */
class JdbcWatermarkSpec extends SparkSpec {
  import spark.implicits._

  SpyJdbc.ensureRegistered()

  private var n = 0
  private def freshUrl(): String = {
    n += 1
    s"${SpyJdbc.Prefix}memory:graft_wm_$n;create=true"
  }

  /** True when `sql` reads the check column straight off the base table with
    * no MAX around it — the full-column pull the pushdown exists to prevent.
    * (Statements against the MAX subquery contain "MAX(", so they never
    * match; writes/DDL don't SELECT the column FROM the bare table.) */
  private def isFullColumnPull(sql: String): Boolean = {
    val s = sql.toUpperCase(java.util.Locale.ROOT)
    s.contains("SELECT") && s.contains("FROM") && !s.contains("MAX(") &&
      s.contains("\"ID\"") && !s.contains("WHERE 1=0") && !s.contains("INSERT")
  }

  test("watermark MAX executes server-side: recorded SQL shows the pushdown subquery") {
    val url = freshUrl()
    val store = new JdbcStore(spark, url, Map.empty)
    store.write(Seq((5L, "a"), (9L, "b"), (7L, "c")).toDF("id", "v"), "t")
    SpyJdbc.reset()
    val wm = store.watermark("t", "id")
    assert(wm.isDefined)
    assert(Watermark.idOf(wm.get) === 9L)
    val sent = SpyJdbc.recorded
    // the aggregate was sent to the database...
    assert(sent.exists(s => s.toUpperCase.contains("MAX(") && s.contains("FROM t")),
      s"no server-side MAX in: $sent")
    // ...and no statement pulled the raw check column off the base table
    assert(!sent.exists(isFullColumnPull), s"full column pull found in: $sent")
  }

  test("empty table: id semantics NULL -> 0, timestamp semantics NULL -> None") {
    val url = freshUrl()
    val store = new JdbcStore(spark, url, Map.empty)
    store.write(Seq.empty[(Long, String)].toDF("id", "v"), "t")
    val wm = store.watermark("t", "id")
    assert(wm.isDefined) // table exists; its MAX is NULL
    assert(Watermark.idOf(wm.get) === 0L)
    assert(Watermark.timestampOf(wm.get).isEmpty)
  }

  test("missing table maps to None (bootstrap), not an error") {
    val url = freshUrl()
    val store = new JdbcStore(spark, url, Map.empty)
    store.write(Seq((1L, "a")).toDF("id", "v"), "present") // creates the db
    assert(store.watermark("does_not_exist", "id").isEmpty)
  }

  test("SyncJob over a JDBC destination pushes the watermark and stays incremental") {
    val url = freshUrl()
    val dest = new JdbcStore(spark, url, Map.empty)
    dest.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_wm_src").toString
    val source = new ParquetStore(spark, srcDir)
    source.write(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"), "t")
    SpyJdbc.reset()
    val stats = SyncJob.run(source, dest,
      TableConfig("t", Some("id"), Some(CheckType.Id), Seq.empty, None), primaryKeys = Seq("id"))
    assert(stats.mode === "incremental id > 2")
    assert(stats.rowsUpserted === 2) // only ids 3 and 4 extracted
    val out = dest.read("t").get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    val sent = SpyJdbc.recorded
    assert(sent.exists(s => s.toUpperCase.contains("MAX(") && s.contains("FROM t")),
      s"no server-side MAX in: $sent")
    // The WATERMARK read (everything up to and including the MAX executing)
    // must not pull the raw check column. Statements AFTER it may read the
    // full destination: a sync that takes the merge path writes
    // dest ∪ delta, because the store's write contract is "replace
    // contents" (this insert-only sync appends the delta instead).
    val untilMax = sent.takeWhile(s => !(s.toUpperCase.contains("MAX(") &&
      !s.toUpperCase.contains("WHERE 1=0")))
    assert(!untilMax.exists(isFullColumnPull),
      s"full column pull before the watermark MAX: $untilMax")
  }

  test("SyncJob timestamp NULL watermark takes the full-copy branch (asymmetry survives)") {
    val url = freshUrl()
    val dest = new JdbcStore(spark, url, Map.empty)
    // existing but EMPTY destination: MAX(ts) is NULL -> full copy
    dest.write(
      Seq.empty[(Long, java.sql.Timestamp, String)].toDF("id", "updated_at", "v"), "t")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_wm_src_ts").toString
    val source = new ParquetStore(spark, srcDir)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    source.write(Seq((1L, t0, "a"), (2L, t0, "b")).toDF("id", "updated_at", "v"), "t")
    val stats = SyncJob.run(source, dest,
      TableConfig("t", Some("updated_at"), Some(CheckType.Timestamp), Seq.empty, None),
      primaryKeys = Seq("id"))
    assert(stats.mode === "full (empty destination watermark)")
    assert(dest.read("t").get.count() === 2)
  }
}
