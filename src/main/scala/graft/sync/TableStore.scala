package graft.sync

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

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
    *  - ParquetStore is all-or-nothing past one commit rename: a failure
    *    before it leaves `table` untouched, and after it the next `read`,
    *    `watermark`, `append` or `write` finds the committed delta and
    *    lands the rest of it first. So no reader sees part of `df`, and a
    *    MAX watermark cannot pass a row that has not landed, in whatever
    *    order the files land.
    *  - JdbcStore commits per executor partition in no order, so a failure
    *    can leave any subset of partitions — no worse than its `write`'s
    *    truncate + reinsert; a transactional JDBC upsert is future work.
    *  - The default inherits `write`'s guarantee. */
  def append(df: DataFrame, table: String): Unit =
    write(read(table).map(_.unionByName(df)).getOrElse(df), table)

  /** O5 watermark read: a 1-row DataFrame (`check_value` = MAX(checkColumn),
    * of the column's type) for an existing table, None when the table is
    * missing. The default computes the aggregate engine-side over `read`, a
    * partial-agg tree that moves one value per partition. Stores that hold
    * the answer as metadata override it: ParquetStore reads an integral
    * column's max from the footers' statistics, with no Spark job. Stores
    * backed by a remote SQL engine MUST override to push the MAX
    * server-side, or every sync pulls the destination's whole check column
    * over the wire to compute one scalar (the reference does this in one
    * line of SQL — db-sync-local/sync_utils.py:22-25). */
  def watermark(table: String, checkColumn: String): Option[DataFrame] =
    read(table).map(graft.operators.Watermark.maxOf(_, checkColumn))

  /** Replace `table`'s contents with `df` ALL-OR-NOTHING: after a crash at
    * any point, a reader sees either the complete old contents or the
    * complete new contents, never a torn mix and never no table. This is
    * what state+marker writes (streaming `maintainStats`) require — the
    * exactly-once argument collapses if the marker can land without the
    * state or half the state without the marker. ParquetStore's plain
    * write already commits a staged copy by one rename and rolls it
    * forward (ParquetStoreSpec stops it after each step and reads the
    * table back), so the default delegates; stores whose plain write has
    * a torn window (JDBC truncate+insert) MUST override with a staged
    * transactional swap. */
  def writeAtomic(df: DataFrame, table: String): Unit = write(df, table)
}

/** Parquet-directory store: `dir/<table>.parquet` per table. Write and
  * append stage their files in a hidden directory of their own, so a
  * table can be rewritten from a plan that reads its own previous contents
  * (overwrite-in-place would delete the files mid-scan), and commit them by
  * one rename to the table's landing directory, which every later access
  * of the table rolls forward first (see `commitSteps`).
  *
  * Metadata comes from the parquet footers, read on the driver, so it costs
  * no Spark job: `read` takes the schema Spark wrote into a data file's
  * footer, and `watermark` folds the footers' max statistics of an integral
  * check column. Where a footer cannot answer exactly, both take Spark's own
  * path (schema inference, a MAX aggregate). */
class ParquetStore(spark: SparkSession, dir: String) extends TableStore {
  private def pathOf(table: String) = s"$dir/$table.parquet"
  private def conf = spark.sparkContext.hadoopConfiguration

  override def read(table: String): Option[DataFrame] =
    listed(table).map(frame(table, _))

  /** MAX of an integral check column from the footers' per-row-group
    * statistics, over the same files `read` lists; every other case is the
    * trait's aggregate over that read. */
  override def watermark(table: String, checkColumn: String): Option[DataFrame] =
    listed(table).map(files => footerMax(files, checkColumn)
      .getOrElse(graft.operators.Watermark.maxOf(frame(table, files), checkColumn)))

  /** The data files of an existing table, in name order; Nil when the
    * listing holds what the footer path does not model (a subdirectory, a
    * summary file) or no data file. None when the table is missing. A
    * commit a crash stopped is rolled forward first. Names Spark skips
    * when it lists a table (`_`/`.`-prefixed, `._COPYING_`) are skipped
    * here too. */
  private def listed(table: String): Option[Seq[FileStatus]] = {
    val p = new Path(pathOf(table))
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p) || fs.exists(landingOf(table))) ParquetStore.synchronized(restore(table))
    if (!fs.exists(p)) None
    else Some {
      val seen = fs.listStatus(p).toSeq.filterNot { st =>
        val n = st.getPath.getName
        (n.startsWith("_") && !n.contains("=") && !n.startsWith("_metadata") &&
          !n.startsWith("_common_metadata")) || n.startsWith(".") || n.endsWith("._COPYING_")
      }
      if (seen.exists(st => !st.isFile || st.getPath.getName.startsWith("_"))) Nil
      else seen.sortBy(_.getPath.getName)
    }
  }

  /** The table as a DataFrame, with the schema of its first data file's
    * footer when that file carries Spark's row metadata (the string Spark's
    * own inference reads first), else with Spark's schema inference. */
  private def frame(table: String, files: Seq[FileStatus]): DataFrame =
    files.headOption.flatMap(f =>
      try sparkSchema(footer(f)) catch { case NonFatal(_) => None }) match {
      case Some(s) => spark.read.schema(s).parquet(pathOf(table))
      case None    => spark.read.parquet(pathOf(table))
    }

  /** A file's footer, read on the driver. The read options come from the
    * session's loaded Hadoop configuration: `open` without them builds
    * default options, whose fresh `Configuration` parses
    * `core-default.xml` again on every call (~7 of ~11 ms per footer). */
  private def footer(st: FileStatus): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
      HadoopReadOptions.builder(conf).build())
    try r.getFooter finally r.close()
  }

  private def sparkSchema(f: ParquetMetadata): Option[StructType] =
    Option(f.getFileMetaData.getKeyValueMetaData.get(ParquetStore.RowMetadata))
      .map(DataType.fromJson).collect { case t: StructType => t }

  /** MAX(c) as a 1-row local `check_value` frame, or None when the footers
    * cannot give it exactly. Exact needs: the Spark type of `c` (named
    * exactly so) is Byte, Short, Int or Long; in every file `c` is a
    * top-level INT32/INT64 column of that width, unannotated or a signed
    * INT(n); and each of its row groups has a max or holds only NULLs. */
  private def footerMax(files: Seq[FileStatus], c: String): Option[DataFrame] = try {
    // the max of one file, Some(None) when it has no non-NULL value
    def fileMax(f: ParquetMetadata, bits: Int): Option[Option[Long]] = {
      val typed = f.getFileMetaData.getSchema.getFields.asScala.exists {
        case t: PrimitiveType =>
          t.getName == c && t.getPrimitiveTypeName == (if (bits == 64) INT64 else INT32) &&
            (t.getLogicalTypeAnnotation match {
              case null => bits >= 32
              case a: IntLogicalTypeAnnotation => a.isSigned && a.getBitWidth == bits
              case _ => false
            })
        case _ => false
      }
      val groups = f.getBlocks.asScala.toSeq.map(b =>
        b.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(c))).flatMap { ch =>
          val st: Statistics[_] = ch.getStatistics
          if (st == null) None
          else if (st.hasNonNullValue) Some(Some(st.genericGetMax.asInstanceOf[Number].longValue))
          else if (st.isNumNullsSet && st.getNumNulls == ch.getValueCount) Some(None)
          else None
        })
      if (typed && groups.forall(_.isDefined)) Some(groups.flatten.flatten.maxOption) else None
    }
    // the type comes from the first footer, so a column the footers cannot
    // answer costs one footer read, not one per file
    for {
      first <- files.headOption.map(footer)
      t <- sparkSchema(first).flatMap(_.find(_.name == c)).map(_.dataType)
      bits <- Some(t).collect {
        case ByteType => 8; case ShortType => 16; case IntegerType => 32; case LongType => 64
      }
      maxes = fileMax(first, bits) +: files.tail.map(f => fileMax(footer(f), bits))
      if maxes.forall(_.isDefined)
    } yield {
      val v = maxes.flatten.flatten.maxOption.map[Any](m => t match {
        case ByteType    => m.toByte
        case ShortType   => m.toShort
        case IntegerType => m.toInt
        case _           => m
      }).orNull
      spark.createDataFrame(java.util.List.of(Row(v)), StructType(Seq(StructField("check_value", t))))
    }
  } catch { case NonFatal(_) => None }

  /** Replaces the table with `df` through the one commit protocol (see
    * `commitSteps`): `df` is staged before the old table is touched, so
    * its plan may read the table's previous contents. */
  override def write(df: DataFrame, table: String): Unit =
    commitSteps(df, table, replace = true, Int.MaxValue)

  /** Native parquet append — O(df) cost regardless of accumulated table
    * size — through the one commit protocol (see `commitSteps`). */
  override def append(df: DataFrame, table: String): Unit =
    commitSteps(df, table, replace = false, Int.MaxValue)

  /** The one commit protocol of `write` and `append`, stopped after the
    * first `steps` of its steps past staging (a test's stand-in for a
    * crash there); returns how many steps the whole operation has.
    *
    * `df` is written to a staging directory of its own, a hidden sibling
    * of the table, so a failed job leaves the table untouched and
    * concurrent operations on one table never share Spark's `_temporary`
    * directory. Under the lock, the stage becomes a replacement (a write,
    * or an append that creates the table, so the table always has a file
    * carrying its schema: a `_`-prefixed marker file is added) or an
    * addition (an append to an existing table: all but the part files
    * that hold rows are deleted, so an empty `df` commits nothing).
    * Renaming it to the table's landing directory is the commit;
    * `landSteps` then rolls it forward, and after a crash past the commit
    * the table's next access does (`restore`). */
  private[sync] def commitSteps(df: DataFrame, table: String, replace: Boolean, steps: Int): Int = {
    val fs = new Path(dir).getFileSystem(conf)
    val stage = new Path(s"$dir/.stage_${table}_${java.util.UUID.randomUUID()}")
    try {
      df.write.parquet(stage.toString)
      // footers are read before the lock, so it covers only renames, deletes
      // and a replacement's empty marker file
      val (full, rest) = if (replace) (Nil, Nil) else fs.listStatus(stage).toSeq
        .partition(st => st.getPath.getName.startsWith("part-") && rowCount(st) > 0L)
      ParquetStore.synchronized {
        restore(table)
        val whole = replace || !fs.exists(new Path(pathOf(table)))
        val todo =
          if (!whole && full.isEmpty) Nil
          else {
            if (whole) fs.create(new Path(stage, ParquetStore.Replace)).close()
            else rest.foreach(st => fs.delete(st.getPath, false))
            (() => rename(stage, landingOf(table))) +: landSteps(table, whole, full.map(_.getPath.getName))
          }
        todo.take(steps).foreach(_())
        todo.size
      }
    } finally fs.delete(stage, true)
  }

  /** The hidden sibling that a commit renames its stage to. */
  private def landingOf(table: String) = new Path(s"$dir/.landing_$table.parquet")

  private def rename(from: Path, to: Path): Unit =
    if (!from.getFileSystem(conf).rename(from, to)) sys.error(s"rename failed for $from")

  /** Finish what a crash stopped: roll a committed landing directory
    * forward. Call under the lock. */
  private def restore(table: String): Unit = {
    val (dst, landing) = (new Path(pathOf(table)), landingOf(table))
    val fs = dst.getFileSystem(conf)
    if (fs.exists(landing)) {
      val names = fs.listStatus(landing).toSeq.map(_.getPath.getName)
      landSteps(table, names.contains(ParquetStore.Replace) || !fs.exists(dst), names).foreach(_())
    }
  }

  /** The steps that roll `table`'s landing directory forward. A
    * replacement deletes the old table, then the marker, then renames the
    * directory whole (a crash between the last two leaves no marker and
    * no table, which lands the same way). An addition moves each file of
    * `names` into the table, then deletes the empty directory. */
  private def landSteps(table: String, replace: Boolean, names: Seq[String]): Seq[() => Any] = {
    val (dst, landing) = (new Path(pathOf(table)), landingOf(table))
    val fs = dst.getFileSystem(conf)
    if (replace)
      Seq(() => fs.delete(dst, true), () => fs.delete(new Path(landing, ParquetStore.Replace), false),
        () => rename(landing, dst))
    else names.map(n => () => rename(new Path(landing, n), new Path(dst, n))) :+
      (() => fs.delete(landing, true))
  }

  private def rowCount(st: FileStatus): Long = footer(st).getBlocks.asScala.map(_.getRowCount).sum
}

/** Serializes ParquetStore's commits and roll-forwards across the JVM: two
  * commits must not share a landing directory, and no reader may roll a
  * landing directory forward while a write or append is between its
  * steps. They are renames and deletes, and a replacement's one empty
  * marker file (Hadoop's local file system, without its native library,
  * forks `chmod` for each file it creates), so the lock is held briefly. */
object ParquetStore {
  /** The footer key holding the Spark schema a file was written with. */
  private val RowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** The marker file that makes a landing directory a replacement. */
  private val Replace = "_graft_replace"
}

/** JDBC store: connection profile -> per-table reads/writes. Reads resolve
  * the schema from JDBC metadata (O2's introspection, done by Spark's
  * JdbcUtils); incremental filters push into the remote WHERE
  * (pushDownPredicate default-on). */
class JdbcStore(spark: SparkSession, url: String, props: Map[String, String]) extends TableStore {
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
      .options(props)
      .load())
    catch { case NonFatal(e) if JdbcStore.isTableMissing(e) => None }

  /** O5 watermark, pushed server-side: the MAX runs inside the remote engine
    * via a pushdown subquery — Spark's v1 JDBC source pushes predicates and
    * prunes columns but does NOT push aggregates, so the trait default
    * (`agg(max)` over `read`) would stream the destination's entire check
    * column through one connection to produce a single scalar, per table, per
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
    * identifiers) hand back the exact column name Watermark.idOf expects. */
  override def watermark(table: String, checkColumn: String): Option[DataFrame] = {
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    val c = dialect.quoteIdentifier(checkColumn)
    val alias = dialect.quoteIdentifier("check_value")
    val sub = s"(SELECT MAX($c) AS $alias FROM $table) q"
    try Some(spark.read.format("jdbc")
      .option("url", url).option("dbtable", sub)
      .options(props)
      .load())
    catch { case NonFatal(e) if JdbcStore.isTableMissing(e) => None }
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
    val p = connProps
    // materialize BEFORE any destructive statement: overwrite clears the
    // table first and only then executes df's plan — a plan that reads
    // this very table (SyncJob's merge, upsertSync) would scan the
    // just-cleared (empty) destination and silently drop every
    // previously-synced row. ParquetStore stages via temp+rename; a
    // database has no cheap rename, so staging happens on the executors.
    val staged = df.localCheckpoint()
    val existingSchema = read(table).map(_.schema) // missing -> None; transient throws
    val sameColumns = existingSchema.exists(ex => colTypes(ex) == colTypes(staged.schema))
    val truncateSafe = sameColumns && {
      val notNull = nullableUnsafeColumns(table, p)
      val risky = staged.schema.fields
        .filter(f => f.nullable && notNull(lower(f.name))).map(_.name)
      risky.isEmpty ||
        staged.filter(risky.map(c => org.apache.spark.sql.functions.col(c).isNull)
          .reduce(_ || _)).isEmpty
    }
    val writer = staged.write.mode("overwrite").option("batchsize", 1000)
    (if (truncateSafe) writer.option("truncate", "true") else writer).jdbc(url, table, p)
  }

  /** Native SQL append: batched INSERTs of df's rows only — O(df), and no
    * truncate-safety probe because nothing destructive runs. */
  override def append(df: DataFrame, table: String): Unit =
    df.write.mode("append").option("batchsize", 1000).jdbc(url, table, connProps)

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
    val p = connProps
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
        case NonFatal(e) =>
          try conn.rollback() catch { case NonFatal(_) => }
          throw e
      } finally st.close()
      // best-effort tidy-up; the next writeAtomic overwrites the stage anyway
      try {
        val drop = conn.createStatement()
        try { conn.setAutoCommit(true); drop.executeUpdate(s"DROP TABLE $stage") }
        finally drop.close()
      } catch { case NonFatal(_) => }
    } finally conn.close()
  }

  /** The connection profile as the `Properties` that Spark's JDBC writer
    * and `DriverManager` take; a fresh (mutable) copy per call. */
  private def connProps: java.util.Properties = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  private def lower(n: String) = n.toLowerCase(java.util.Locale.ROOT)

  /** Case-insensitive column name -> type map: the schema compare behind
    * `write`'s truncate probe and `writeAtomic`'s evolution escape hatch. */
  private def colTypes(s: org.apache.spark.sql.types.StructType) =
    s.fields.map(f => lower(f.name) -> f.dataType).toMap

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
          .map(i => lower(md.getColumnLabel(i))).toSet
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
