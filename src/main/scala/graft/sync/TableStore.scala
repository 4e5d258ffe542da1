package graft.sync

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** O13 — storage/session abstraction: a "database" is a named set of tables.
  * The engine's pipelines are store-agnostic; tests and the local harness use
  * parquet directories, production uses JDBC profiles (JdbcStore below is a
  * thin options map — Spark manages executor-side connections).
  */
trait TableStore {
  def read(table: String): Option[DataFrame]
  /** Replace `table`'s contents with `df`. CONTRACT: must be safe when
    * df's plan reads the same table's previous contents (sync pipelines
    * routinely merge dest ∪ delta and write back) — implementations stage
    * the write (temp path + rename) or materialize the input BEFORE
    * destroying the old contents. */
  def write(df: DataFrame, table: String): Unit
  /** Add `df`'s rows to `table` without touching existing rows. The
    * default is the portable read-∪-write (O(table) rewrite); stores with
    * a native append (parquet part files, SQL INSERT) override it to
    * O(df). NOT idempotent on its own — callers running under
    * at-least-once semantics (foreachBatch) must dedup before appending.
    *
    * LANDING CONTRACT — what a failure part-way leaves in `table`:
    *  - ParquetStore: a failed Spark job leaves `table` untouched; past it,
    *    `df`'s partitions land IN PARTITION ORDER, so a crash leaves a
    *    prefix of them. SyncJob's insert-only path range-partitions the
    *    delta on the check column, so that prefix holds every landed row
    *    below every unlanded one, and the next run's MAX watermark cannot
    *    pass an unlanded row.
    *  - JdbcStore commits per executor partition in no order, so a failure
    *    can leave any subset of partitions — no worse than its `write`'s
    *    truncate + reinsert; a transactional JDBC upsert is future work.
    *  - The default inherits `write`'s guarantee. */
  def append(df: DataFrame, table: String): Unit =
    write(read(table).map(_.unionByName(df)).getOrElse(df), table)

  /** O5 watermark read: a 1-row DataFrame (`check_value` = MAX(checkColumn))
    * for an existing table, None when the table is missing. The default
    * computes the aggregate engine-side over `read` (fine for columnar
    * stores — a partial-agg tree that moves one value per partition);
    * stores backed by a remote SQL engine MUST override to push the MAX
    * server-side, or every sync pulls the destination's whole check column
    * over the wire to compute one scalar (the reference does this in one
    * line of SQL — db-sync-local/sync_utils.py:22-25). */
  def watermark(table: String, checkColumn: String): Option[DataFrame] =
    read(table).map(graft.operators.Watermark.maxOf(_, checkColumn))

  /** Replace `table`'s contents with `df` ALL-OR-NOTHING: after a crash at
    * any point, a reader sees either the complete old contents or the
    * complete new contents, never a torn mix. This is what state+marker
    * writes (streaming `maintainStats`) require — the exactly-once
    * argument collapses if the marker can land without the state or half
    * the state without the marker. ParquetStore's plain write already
    * stages through a temp path + rename, so the default delegates;
    * stores whose plain write has a torn window (JDBC truncate+insert)
    * MUST override with a staged transactional swap. */
  def writeAtomic(df: DataFrame, table: String): Unit = write(df, table)
}

/** Parquet-directory store: `dir/<table>.parquet` per table. Write goes
  * through a temp path + atomic-ish rename so a table can be rewritten from
  * a plan that reads its own previous contents (overwrite-in-place would
  * delete the files mid-scan). */
class ParquetStore(spark: SparkSession, dir: String) extends TableStore {
  private def pathOf(table: String) = s"$dir/$table.parquet"

  override def read(table: String): Option[DataFrame] = {
    val p = new Path(pathOf(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(pathOf(table))) else None
  }

  override def write(df: DataFrame, table: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$dir/.tmp_$table.parquet")
    val dst = new Path(pathOf(table))
    df.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(dst)) fs.delete(dst, true)
    if (!fs.rename(tmp, dst)) sys.error(s"rename failed for $table")
  }

  /** Native parquet append — O(df) cost regardless of accumulated table
    * size. `df` is written to a staging directory of its own, a hidden
    * sibling of the table, so a failed job leaves the table untouched and
    * concurrent appends to one table never share Spark's `_temporary`
    * directory. Its part files then move into the table by rename, in
    * partition order (the trait's landing contract); files with no rows are
    * left behind, so an empty `df` adds nothing to an existing table. A
    * table that does not exist yet is created by renaming the whole
    * staging directory, so it always has a file carrying its schema. */
  override def append(df: DataFrame, table: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(s"$dir/.append_${table}_${java.util.UUID.randomUUID()}")
    try {
      // one file per partition: a partition split over several files could
      // be landed in part, breaking the order the landing contract promises
      df.write.option("maxRecordsPerFile", 0L).parquet(stage.toString)
      // footers are read before the lock, so it covers only the renames
      val files = staged(stage)
      ParquetStore.synchronized {
        val dst = new Path(pathOf(table))
        if (!fs.exists(dst)) {
          if (!fs.rename(stage, dst)) sys.error(s"rename failed for $table")
        } else land(files, table)
      }
    } finally fs.delete(stage, true)
  }

  /** The part files of a staging directory that hold rows, in partition
    * order. Row counts come from the parquet footers, read on the driver. */
  private def staged(stage: Path): Seq[Path] = {
    val part = "part-(\\d+)-.*".r
    stage.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(stage).toSeq
      .flatMap(st => st.getPath.getName match {
        case part(n) => Some(n.toLong -> st)
        case _       => None
      })
      .sortBy(_._1)
      .collect { case (_, st) if rowCount(st) > 0L => st.getPath }
  }

  private def rowCount(st: org.apache.hadoop.fs.FileStatus): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromStatus(st, spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Move `files` into `table`, one rename each, in the given order. */
  private[sync] def land(files: Seq[Path], table: String): Unit = {
    val dst = new Path(pathOf(table))
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.foreach { f =>
      if (!fs.rename(f, new Path(dst, f.getName))) sys.error(s"rename failed for $f")
    }
  }
}

/** Serializes ParquetStore's landing step across the JVM: two first
  * appends to a missing table must not both rename a staging directory
  * onto it. Landing is renames only, so the lock is held briefly. */
object ParquetStore

/** JDBC store: connection profile -> per-table reads/writes. Reads resolve
  * the schema from JDBC metadata (O2's introspection, done by Spark's
  * JdbcUtils); incremental filters push into the remote WHERE
  * (pushDownPredicate default-on). `partitionOptions` enables the partitioned
  * scan (partitionColumn/lowerBound/upperBound/numPartitions) that replaces
  * the reference's whole-table driver materialization. */
class JdbcStore(spark: SparkSession, url: String, props: Map[String, String],
                partitionOptions: Map[String, String] = Map.empty) extends TableStore {
  override def read(table: String): Option[DataFrame] =
    // JDBC schema resolution is EAGER — a missing table throws here, not at
    // action time. Mapping that to None honors the trait contract and makes
    // SyncJob's empty-destination bootstrap (None -> full copy, no merge)
    // reachable for JDBC destinations, matching ParquetStore. ONLY
    // table-missing errors map to None: a transient failure (connection
    // drop, auth, timeout) must propagate — SyncJob treats None as "empty
    // destination, skip the merge", and a transient read failure followed
    // by a successful write would overwrite the table with the delta alone.
    try Some(spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(props).options(partitionOptions)
      .load())
    catch { case scala.util.control.NonFatal(e) if JdbcStore.isTableMissing(e) => None }

  /** O5 watermark, pushed server-side: the MAX runs inside the remote engine
    * via a pushdown subquery — Spark's v1 JDBC source pushes predicates and
    * prunes columns but does NOT push aggregates, so the trait default
    * (`agg(max)` over `read`) would stream the destination's entire check
    * column through the connection (through ONE connection unless
    * partitionOptions are set) to produce a single scalar, per table, per
    * sync. Here the remote engine sees
    * `SELECT "check_value" FROM (SELECT MAX(c) AS check_value FROM t) q`
    * and exactly one row crosses the wire — the reference's own shape
    * (db-sync-local/sync_utils.py:22-25). The bare derived-table alias
    * (`) q`, no AS) is the portable spelling: Oracle rejects `AS` on table
    * aliases, while PostgreSQL/MySQL/SQL Server/Derby/H2 accept both. The
    * check column is quoted through Spark's dialect for this URL (it came
    * from a config file, not a user; quoting guards casing, not injection —
    * same trust level as `table` in `read`). The alias `check_value` is
    * quoted too so case-folding engines (Derby/H2/Oracle upper-fold unquoted
    * identifiers) hand back the exact column name Watermark.idOf expects.
    * partitionOptions are deliberately NOT applied: this is a 1-row read. */
  override def watermark(table: String, checkColumn: String): Option[DataFrame] = {
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    val c = dialect.quoteIdentifier(checkColumn)
    val alias = dialect.quoteIdentifier("check_value")
    val sub = s"(SELECT MAX($c) AS $alias FROM $table) q"
    try Some(spark.read.format("jdbc")
      .option("url", url).option("dbtable", sub)
      .options(props)
      .load())
    catch { case scala.util.control.NonFatal(e) if JdbcStore.isTableMissing(e) => None }
  }

  /** Store semantics are "replace table contents with df" (SyncJob hands the
    * FULL merged table whenever the delta may update existing keys;
    * insert-only syncs go through `append` and ship only the delta).
    *
    * TRUNCATE vs DROP+CREATE is decided by a schema probe BEFORE anything
    * destructive runs: truncate preserves the table's DDL (indexes, grants,
    * defaults) but can only land a frame whose columns match the existing
    * table — after schema evolution (SyncJob's allowSchemaEvolution) the
    * physical table lacks the added column, and a truncate-first write
    * would empty the destination and THEN fail the insert, destroying
    * previously-synced data. A mismatched or missing table takes the
    * drop+create path, which re-lands the staged rows under the evolved
    * schema. The probe compares case-insensitive column name -> type maps,
    * and when the physical table declares NOT NULL on a column the staged
    * data might violate, the STAGED DATA is checked for nulls (one cheap
    * aggregate over the already-checkpointed frame): nulls present means
    * the post-truncate INSERT would fail, so that case recreates too.
    * Nullability comes from a raw ResultSetMetaData probe, NOT from the
    * Spark read schema — Spark's JDBC relation resolves every column as
    * nullable on purpose (drivers lie), which would blind this check; and
    * a driver reporting nullability UNKNOWN is treated as NOT NULL (the
    * direction whose worst case is one extra aggregate, not data loss). A
    * false "mismatch" merely downgrades to recreate (correct data, DDL
    * re-derived), while a false "match" could truncate into a failing
    * insert — so anything uncertain recreates. Residual risk, documented:
    * constraints Spark cannot see (VARCHAR lengths, CHECK) can still fail
    * the insert after a truncate — same exposure as any JDBC overwrite;
    * pre-validate upstream where such DDL exists. A transient probe
    * failure PROPAGATES (read's classification): silently downgrading to
    * recreate would destroy indexes/grants on a healthy matching table. */
  override def write(df: DataFrame, table: String): Unit = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    // materialize BEFORE any destructive statement: overwrite clears the
    // table first and only then executes df's plan — a plan that reads
    // this very table (SyncJob's merge, upsertSync) would scan the
    // just-cleared (empty) destination and silently drop every
    // previously-synced row. ParquetStore stages via temp+rename; a
    // database has no cheap rename, so staging happens on the executors.
    val staged = df.localCheckpoint()
    def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    def colTypes(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => key(f.name) -> f.dataType).toMap
    val existingSchema = read(table).map(_.schema) // missing -> None; transient throws
    val sameColumns = existingSchema.exists(ex => colTypes(ex) == colTypes(staged.schema))
    val truncateSafe = sameColumns && {
      val notNull = nullableUnsafeColumns(table, p)
      val risky = staged.schema.fields
        .filter(f => f.nullable && notNull(key(f.name))).map(_.name)
      risky.isEmpty ||
        staged.filter(risky.map(c => org.apache.spark.sql.functions.col(c).isNull)
          .reduce(_ || _)).isEmpty
    }
    val writer = staged.write.mode("overwrite").option("batchsize", 1000)
    (if (truncateSafe) writer.option("truncate", "true") else writer).jdbc(url, table, p)
  }

  /** Native SQL append: batched INSERTs of df's rows only — O(df), and no
    * truncate-safety probe because nothing destructive runs. */
  override def append(df: DataFrame, table: String): Unit = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    df.write.mode("append").option("batchsize", 1000).jdbc(url, table, p)
  }

  /** All-or-nothing replace, the JDBC analog of ParquetStore's temp+rename:
    * `write`'s truncate/recreate + batched INSERT commits per executor
    * partition, so a crash mid-write leaves a torn table — fatal for
    * state+marker writes (a marker row without its state rows silently
    * skips a batch forever). Here the executors stage `df` into
    * `<table>__stage` (parallel, nothing destructive touches the real
    * table), and the swap is ONE driver-side transaction of plain DML —
    * DELETE + INSERT...SELECT, transactional on every engine, data never
    * moving through the driver — so the real table flips old→new in a
    * single commit and a failure at any earlier point rolls back to intact
    * old contents. DDL (grants, indexes, defaults) on the real table is
    * untouched. Cost vs `write`: one extra server-side copy of `df` —
    * the price of atomicity, sized for state-shaped tables (|keys| rows),
    * not bulk syncs. Identifiers are quoted through Spark's own dialect
    * for this URL, matching how Spark quotes them at CREATE time. */
  override def writeAtomic(df: DataFrame, table: String): Unit = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val stage = table + "__stage"
    // materialize before touching anything: df's plan may read `table`
    val staged = df.localCheckpoint()
    // schema EVOLUTION escape hatch: the DML swap below can only land a
    // frame whose columns exist in the destination with compatible types
    // (INSERT by name). A changed column SET — e.g. maintainStats adopting
    // a pre-__run state table and stamping the new lineage column — or a
    // changed column TYPE (the INSERT..SELECT would fail and roll back on
    // every retry, wedging the stream) takes the plain write() path
    // instead (its probe recreates the table under the new schema). That
    // one migration write is NOT atomic; every steady-state write before
    // and after it is. The alternative — failing forever on an evolved
    // table — is strictly worse. Same name->type compare as write()'s
    // truncate probe: anything uncertain recreates.
    val existing = read(table).map(_.schema)
    def colTypes(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
    if (existing.exists(ex => colTypes(ex) != colTypes(staged.schema))) {
      write(staged, table)
      return
    }
    staged.write.mode("overwrite").option("batchsize", 1000).jdbc(url, stage, p)
    // ensure the destination exists (zero-row append creates it with the
    // staged schema; an empty table reads as "no state applied" — safe if
    // we crash between here and the swap)
    if (existing.isEmpty)
      staged.limit(0).write.mode("append").option("batchsize", 1000).jdbc(url, table, p)
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    val cols = staged.schema.fieldNames.map(dialect.quoteIdentifier).mkString(", ")
    val conn = java.sql.DriverManager.getConnection(url, p)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        st.executeUpdate(s"DELETE FROM $table")
        st.executeUpdate(s"INSERT INTO $table ($cols) SELECT $cols FROM $stage")
        conn.commit()
      } catch {
        case scala.util.control.NonFatal(e) =>
          try conn.rollback() catch { case scala.util.control.NonFatal(_) => }
          throw e
      } finally st.close()
      // best-effort tidy-up; the next writeAtomic overwrites the stage anyway
      try {
        val drop = conn.createStatement()
        try { conn.setAutoCommit(true); drop.executeUpdate(s"DROP TABLE $stage") }
        finally drop.close()
      } catch { case scala.util.control.NonFatal(_) => }
    } finally conn.close()
  }

  /** Columns of `table` a NULL cannot safely land in: declared NOT NULL, or
    * nullability-unknown (trusting an unknown toward "nullable" risks
    * truncate-then-failed-INSERT data loss; toward "not null" costs at most
    * one aggregate over the staged frame). Same zero-row SELECT Spark uses
    * to resolve the schema, but reading the metadata directly because the
    * Spark-side schema is forced all-nullable. Only called after the probe
    * read succeeded, so the table exists; failures here propagate. */
  private def nullableUnsafeColumns(table: String, p: java.util.Properties): Set[String] = {
    val conn = java.sql.DriverManager.getConnection(url, p)
    try {
      val st = conn.createStatement()
      try {
        val md = st.executeQuery(s"SELECT * FROM $table WHERE 1=0").getMetaData
        (1 to md.getColumnCount).iterator
          .filter(i => md.isNullable(i) != java.sql.ResultSetMetaData.columnNullable)
          .map(i => md.getColumnLabel(i).toLowerCase(java.util.Locale.ROOT)).toSet
      } finally st.close()
    } finally conn.close()
  }
}

object JdbcStore {
  /** SQLStates that mean "the relation does not exist" across the engines the
    * reference targets: 42P01 (PostgreSQL undefined_table), 42S02 (MySQL /
    * SQL Server / H2 base table not found), 42X05 (Derby), 42704 (DB2
    * undefined name), S0002 (legacy ODBC-style drivers). Syntax errors share
    * class 42 but not these codes, so a whole-class match would be too
    * broad. Engines whose missing-table signal is AMBIGUOUS stay out on
    * purpose: Oracle reports ORA-00942 under the generic 42000 (shared with
    * syntax errors) and sqlite-jdbc reports a null SQLState — classifying
    * those as "missing" would let a transient/syntax failure bootstrap-
    * overwrite a populated destination. There the first sync fails loudly
    * instead (the safe direction); pre-create the table or subclass the
    * store with an engine-specific probe. */
  private val TableMissingSqlStates = Set("42P01", "42S02", "42X05", "42704", "S0002")

  /** Walk the cause chain (Spark wraps the driver's SQLException in an
    * AnalysisException with the cause retained) looking for a table-missing
    * SQLState. Depth-bounded in case a driver builds a cause cycle. */
  private[sync] def isTableMissing(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 16) {
      cur match {
        case e: java.sql.SQLException
          if e.getSQLState != null && TableMissingSqlStates(e.getSQLState) => return true
        case _ =>
      }
      cur = if (cur.getCause ne cur) cur.getCause else null
      depth += 1
    }
    false
  }
}
