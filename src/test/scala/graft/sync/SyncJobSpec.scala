package graft.sync

import graft.SparkSpec
import graft.config.{CheckType, TableConfig}
import graft.operators.Merge
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** §5 golden round-trip tests: dest == source after full sync; delta-only
  * after incremental; idempotent second run; id vs timestamp watermark
  * asymmetry end-to-end; which of the append and merge paths a run takes,
  * and the append path under failure. */
class SyncJobSpec extends SparkSpec {
  import spark.implicits._

  private def tmpStore() =
    new ParquetStore(spark, Files.createTempDirectory("graft_sync").toString)

  private def rows(ids: Long*) = ids.map(i => (i, s"v$i")).toDF("id", "v")

  private val idCfg = TableConfig("t", Some("id"), Some(CheckType.Id), Seq.empty)

  test("full sync into empty destination copies everything") {
    val (src, dst) = (tmpStore(), tmpStore())
    src.write(rows(1, 2, 3), "t")
    val stats = SyncJob.run(src, dst, idCfg, primaryKeys = Seq("id"))
    assert(stats.rowsUpserted === 3)
    assert(dst.read("t").get.select("id").as[Long].collect().sorted === Seq(1L, 2L, 3L))
  }

  test("incremental picks only rows above the destination watermark; idempotent rerun") {
    val (src, dst) = (tmpStore(), tmpStore())
    src.write(rows(1, 2, 3), "t")
    SyncJob.run(src, dst, idCfg, Seq("id"))
    // new + changed rows upstream
    src.write(rows(1, 2, 3, 4, 5), "t")
    val s2 = SyncJob.run(src, dst, idCfg, Seq("id"))
    assert(s2.mode === "incremental id > 3")
    assert(dst.read("t").get.count() === 5)
    // rerun with no new data: no-op (strict >)
    val s3 = SyncJob.run(src, dst, idCfg, Seq("id"))
    assert(s3.mode === "incremental id > 5")
    assert(dst.read("t").get.count() === 5)
  }

  test("upsert semantics: delta wins on conflicting key") {
    val (src, dst) = (tmpStore(), tmpStore())
    dst.write(Seq((1L, "old"), (2L, "old")).toDF("id", "v"), "t")
    src.write(Seq((2L, "new"), (3L, "new")).toDF("id", "v"), "t")
    // full copy (no check column) -> all source rows merge over dest
    SyncJob.run(src, dst, TableConfig("t", None, None, Seq.empty), Seq("id"))
    val out = dst.read("t").get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "old", 2L -> "new", 3L -> "new"))
  }

  test("timestamp watermark: empty destination -> full copy branch") {
    val (src, dst) = (tmpStore(), tmpStore())
    val df = Seq(("2020-01-01 00:00:00", 1L), ("2021-01-01 00:00:00", 2L)).toDF("s", "id")
      .select(to_timestamp($"s").as("ts"), $"id")
    src.write(df, "t")
    dst.write(df.filter(lit(false)), "t") // empty table with schema
    val cfg = TableConfig("t", Some("ts"), Some(CheckType.Timestamp), Seq.empty)
    val stats = SyncJob.run(src, dst, cfg, Seq("id"))
    assert(stats.mode.startsWith("full"))
    assert(dst.read("t").get.count() === 2)
  }

  test("ignore_columns drops nullable columns through the whole pipeline") {
    val (src, dst) = (tmpStore(), tmpStore())
    src.write(Seq((1L, "keep", "drop")).toDF("id", "v", "note"), "t")
    SyncJob.run(src, dst, TableConfig("t", None, None, Seq("note")), Seq("id"))
    assert(dst.read("t").get.columns.toSeq === Seq("id", "v"))
  }

  test("stats ride the write pass: destination is never re-read for counting") {
    val (src, dstInner) = (tmpStore(), tmpStore())
    src.write(rows(1, 2, 3), "t")
    var reads = 0
    val dst = new TableStore {
      override def read(table: String) = { reads += 1; dstInner.read(table) }
      override def write(df: org.apache.spark.sql.DataFrame, table: String) =
        dstInner.write(df, table)
    }
    val stats = SyncJob.run(src, dst, idCfg, Seq("id"))
    assert(stats.rowsUpserted === 3)
    // exactly the pre-write watermark/merge read — no post-write count scan
    assert(reads === 1)
  }

  test("no delete propagation: rows deleted upstream persist in dest (§2.4-1)") {
    val (src, dst) = (tmpStore(), tmpStore())
    src.write(rows(1, 2, 3), "t")
    SyncJob.run(src, dst, idCfg, Seq("id"))
    src.write(rows(1), "t") // rows 2,3 deleted upstream
    SyncJob.run(src, dst, idCfg, Seq("id"))
    assert(dst.read("t").get.count() === 3) // deletions never propagate
  }

  test("propagateDeletes drops vanished keys while the extract stays incremental (§2.4-1 opt-in)") {
    val (src, dst) = (tmpStore(), tmpStore())
    src.write(rows(1, 2, 3), "t")
    SyncJob.run(src, dst, idCfg, Seq("id"))
    // upstream: 2 deleted, 4 added; 1 and 3 unchanged
    src.write(rows(1, 3, 4), "t")
    val stats = SyncJob.run(src, dst, idCfg, Seq("id"), propagateDeletes = true)
    assert(stats.mode === "incremental id > 3") // extract is still the delta
    assert(dst.read("t").get.select("id").as[Long].collect().sorted === Seq(1L, 3L, 4L))
  }

  test("full-copy + propagateDeletes composes into full refresh: dest == source") {
    val (src, dst) = (tmpStore(), tmpStore())
    dst.write(Seq((1L, "stale"), (9L, "deleted-upstream")).toDF("id", "v"), "t")
    src.write(Seq((1L, "fresh"), (2L, "new")).toDF("id", "v"), "t")
    SyncJob.run(src, dst, TableConfig("t", None, None, Seq.empty), Seq("id"),
      propagateDeletes = true)
    val out = dst.read("t").get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "fresh", 2L -> "new"))
  }

  test("schema evolution opt-in: column added upstream flows in, old rows take NULL") {
    val (src, dst) = (tmpStore(), tmpStore())
    src.write(rows(1, 2), "t")
    SyncJob.run(src, dst, idCfg, Seq("id"))
    // upstream adds a column and a row; only id 3 is above the watermark
    src.write(Seq((1L, "v1", "en"), (2L, "v2", "en"), (3L, "v3", "de"))
      .toDF("id", "v", "lang"), "t")
    val s2 = SyncJob.run(src, dst, idCfg, Seq("id"), allowSchemaEvolution = true)
    assert(s2.mode === "incremental id > 2")
    val out = dst.read("t").get
    assert(out.columns.toSeq === Seq("id", "v", "lang")) // evolved (delta) shape
    val byId = out.collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    // pre-evolution rows: NULL in the added column; extracted row: populated
    assert(byId === Map(1L -> (("v1", null)), 2L -> (("v2", null)), 3L -> (("v3", "de"))))
  }

  test("schema drift WITHOUT the opt-in still fails loudly (strict parity)") {
    val (src, dst) = (tmpStore(), tmpStore())
    src.write(rows(1), "t")
    SyncJob.run(src, dst, idCfg, Seq("id"))
    src.write(Seq((2L, "v2", "en")).toDF("id", "v", "lang"), "t")
    intercept[Exception](SyncJob.run(src, dst, idCfg, Seq("id")))
  }

  test("schema evolution refuses dropped and retyped columns") {
    val (src, dst) = (tmpStore(), tmpStore())
    src.write(rows(1), "t")
    SyncJob.run(src, dst, idCfg, Seq("id"))
    // column dropped upstream
    src.write(Seq(Tuple1(2L)).toDF("id"), "t")
    val eDrop = intercept[IllegalArgumentException](
      SyncJob.run(src, dst, idCfg, Seq("id"), allowSchemaEvolution = true))
    assert(eDrop.getMessage.contains("dropped"))
    // column retyped upstream (v: string -> bigint)
    src.write(Seq((2L, 99L)).toDF("id", "v"), "t")
    val eType = intercept[IllegalArgumentException](
      SyncJob.run(src, dst, idCfg, Seq("id"), allowSchemaEvolution = true))
    assert(eType.getMessage.contains("retyped"))
  }

  test("upsertEvolving refuses non-nullable additions and added merge keys") {
    import graft.operators.Merge
    val base = Seq((1L, "a")).toDF("id", "v")
    // lit() literals are non-nullable: old rows could not satisfy the column
    val nonNull = intercept[IllegalArgumentException](
      Merge.upsertEvolving(base, base.withColumn("n", lit(5L)), Seq("id")))
    assert(nonNull.getMessage.contains("not nullable"))
    // an added column used as a merge key: the base has nothing to match on
    // when() without otherwise on a non-constant predicate stays nullable
    // (a constant-true predicate folds to a non-nullable literal)
    val nullable2 = base.withColumn("k2", when(col("id") > 0, lit(2L)))
    val addedPk = intercept[IllegalArgumentException](
      Merge.upsertEvolving(base, nullable2, Seq("id", "k2")))
    assert(addedPk.getMessage.contains("merge keys"))
  }

  test("strict > skips rows sharing the max timestamp (documented quirk)") {
    val (src, dst) = (tmpStore(), tmpStore())
    val mk = (pairs: Seq[(String, Long)]) => pairs.toDF("s", "id")
      .select(to_timestamp($"s").as("ts"), $"id")
    dst.write(mk(Seq(("2020-06-01 00:00:00", 1L))), "t")
    // a second row with the SAME timestamp as the watermark is skipped forever
    src.write(mk(Seq(("2020-06-01 00:00:00", 1L), ("2020-06-01 00:00:00", 99L),
      ("2020-07-01 00:00:00", 2L))), "t")
    val cfg = TableConfig("t", Some("ts"), Some(CheckType.Timestamp), Seq.empty)
    SyncJob.run(src, dst, cfg, Seq("id"))
    val ids = dst.read("t").get.select("id").as[Long].collect().toSet
    assert(ids === Set(1L, 2L)) // 99 skipped: ts == watermark
  }

  /** Counts the store calls a sync makes. */
  private class SpyStore(val inner: ParquetStore) extends TableStore {
    var writes = 0
    var appends = 0
    override def read(table: String) = inner.read(table)
    override def write(df: DataFrame, table: String) = { writes += 1; inner.write(df, table) }
    override def append(df: DataFrame, table: String) = { appends += 1; inner.append(df, table) }
  }

  private def spy() = new SpyStore(tmpStore())

  /** Rows as sorted strings: a multiset compare that ignores row order. */
  private def bag(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("insert-only id sync appends dedup(delta): equal to the upsert, duplicate keys counted") {
    val (src, dst) = (tmpStore(), spy())
    dst.inner.write(rows(1, 2, 3), "t")
    src.write(rows(1, 2, 3).union(Seq((4L, "a"), (4L, "b"), (5L, "x")).toDF("id", "v")), "t")
    val before = dst.read("t").get.localCheckpoint()
    val want = bag(Merge.upsert(before, src.read("t").get.filter($"id" > 3), Seq("id")))
    val stats = SyncJob.run(src, dst, idCfg, Seq("id"))
    assert((dst.appends, dst.writes) === ((1, 0)))
    assert(stats.rowsUpserted === 3) // pre-dedup: both id-4 rows count
    assert(bag(dst.read("t").get) === want)
  }

  test("the all-columns key fallback takes the append path and matches the upsert") {
    val (src, dst) = (tmpStore(), spy())
    dst.inner.write(rows(1, 2), "t")
    src.write(rows(1, 2).union(Seq((3L, "a"), (3L, "a"), (3L, "b")).toDF("id", "v")), "t")
    val before = dst.read("t").get.localCheckpoint()
    val delta = src.read("t").get.filter($"id" > 2)
    val want = bag(Merge.upsert(before, delta, delta.columns.toSeq))
    val stats = SyncJob.run(src, dst, idCfg)
    assert((dst.appends, dst.writes) === ((1, 0)))
    assert(stats.rowsUpserted === 3)
    assert(bag(dst.read("t").get) === want)
    assert(want.size === 4) // (3, a) once, (3, b) once
  }

  test("timestamp syncs with the check column in the key append too") {
    val (src, dst) = (tmpStore(), spy())
    val mk = (pairs: Seq[(String, Long)]) => pairs.toDF("s", "id")
      .select(to_timestamp($"s").as("ts"), $"id")
    dst.inner.write(mk(Seq(("2020-01-01 00:00:00", 1L))), "t")
    src.write(mk(Seq(("2020-01-01 00:00:00", 1L), ("2020-02-01 00:00:00", 2L))), "t")
    val cfg = TableConfig("t", Some("ts"), Some(CheckType.Timestamp), Seq.empty)
    SyncJob.run(src, dst, cfg, Seq("ts", "id"))
    assert((dst.appends, dst.writes) === ((1, 0)))
    assert(bag(dst.read("t").get) === bag(src.read("t").get))
  }

  /** Runs one incremental sync of `source` over `dest` and returns the spy. */
  private def mergeCase(dest: DataFrame, source: DataFrame, cfg: TableConfig, pks: Seq[String],
                        propagateDeletes: Boolean = false): SpyStore = {
    val (src, dst) = (tmpStore(), spy())
    dst.inner.write(dest, "t")
    src.write(source, "t")
    SyncJob.run(src, dst, cfg, pks, propagateDeletes = propagateDeletes)
    dst
  }

  test("merge path: check column not in the key") {
    val dst = mergeCase(rows(1, 2), Seq((1L, "new"), (3L, "v3")).toDF("id", "v"), idCfg, Seq("v"))
    assert((dst.appends, dst.writes) === ((0, 1)))
  }

  test("merge path: CheckType.Other (>=) can re-extract destination keys") {
    val cfg = TableConfig("t", Some("id"), Some(CheckType.Other), Seq.empty)
    val dst = mergeCase(rows(1, 2), rows(1, 2, 3), cfg, Seq("id"))
    assert((dst.appends, dst.writes) === ((0, 1)))
    assert(dst.read("t").get.count() === 3) // the re-extracted id 2 is not duplicated
  }

  test("merge path: propagateDeletes") {
    val dst = mergeCase(rows(1, 2), rows(2, 3), idCfg, Seq("id"), propagateDeletes = true)
    assert((dst.appends, dst.writes) === ((0, 1)))
    assert(dst.read("t").get.select("id").as[Long].collect().sorted === Seq(2L, 3L))
  }

  test("merge path: schema drift, and strict parity still throws") {
    val (src, dst) = (tmpStore(), spy())
    dst.inner.write(rows(1), "t")
    src.write(Seq((2L, "v2", "en")).toDF("id", "v", "lang"), "t")
    intercept[Exception](SyncJob.run(src, dst, idCfg, Seq("id")))
    assert(dst.appends === 0)
  }

  test("merge path: double and string check columns") {
    val dbl = (ids: Seq[Double]) => ids.map(i => (i, s"v$i")).toDF("id", "v")
    val d = mergeCase(dbl(Seq(1.0, 2.5)), dbl(Seq(1.0, 2.5, 2.7, 3.0)), idCfg, Seq("id"))
    assert((d.appends, d.writes) === ((0, 1)))
    assert(d.read("t").get.count() === 4)
    val str = (ts: Seq[String]) => ts.map(t => (t, 1L)).toDF("ts", "id")
    val cfg = TableConfig("t", Some("ts"), Some(CheckType.Timestamp), Seq.empty)
    val s = mergeCase(str(Seq("2020-01")), str(Seq("2020-01", "2020-02")), cfg, Seq("ts"))
    assert((s.appends, s.writes) === ((0, 1)))
  }

  test("bootstrap dedups duplicate source keys: the first and second runs agree") {
    val (src, dst) = (tmpStore(), tmpStore())
    src.write(Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v"), "t")
    val full = TableConfig("t", None, None, Seq.empty)
    assert(SyncJob.run(src, dst, full, Seq("id")).rowsUpserted === 3)
    val first = bag(dst.read("t").get)
    assert(first.size === 2)
    SyncJob.run(src, dst, full, Seq("id"))
    assert(bag(dst.read("t").get) === first)
  }

  private def files(store: ParquetStore, table: String): Set[String] = {
    val p = new Path(store.read(table).get.inputFiles.head).getParent
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).toSet
  }

  test("a failed staging job leaves the destination untouched; a rerun converges") {
    val (srcInner, dst) = (tmpStore(), tmpStore())
    srcInner.write(rows(1, 2, 3), "t")
    SyncJob.run(srcInner, dst, idCfg, Seq("id"))
    srcInner.write(rows(1 to 8 map (_.toLong): _*), "t")
    var fail = true
    val src = new TableStore {
      override def read(table: String) = srcInner.read(table).map { df =>
        if (!fail) df
        else df.withColumn("v", when($"id" === 6, raise_error(lit("injected"))).otherwise($"v"))
      }
      override def write(df: DataFrame, table: String) = srcInner.write(df, table)
    }
    val (filesBefore, rowsBefore) = (files(dst, "t"), bag(dst.read("t").get))
    intercept[Exception](SyncJob.run(src, dst, idCfg, Seq("id")))
    assert(files(dst, "t") === filesBefore)
    assert(bag(dst.read("t").get) === rowsBefore)
    fail = false
    SyncJob.run(src, dst, idCfg, Seq("id"))
    assert(bag(dst.read("t").get) === bag(srcInner.read("t").get))
  }

  /** Stops each write and append after its first `k` steps past staging,
    * then fails. */
  private class CrashingStore(dir: String, k: Int) extends ParquetStore(spark, dir) {
    var steps = 0
    private def commit(df: DataFrame, table: String, replace: Boolean): Unit = {
      steps = commitSteps(df, table, replace, k)
      if (k < steps) sys.error(s"crash after $k of $steps commit steps")
    }
    override def write(df: DataFrame, table: String): Unit = commit(df, table, replace = true)
    override def append(df: DataFrame, table: String): Unit = commit(df, table, replace = false)
  }

  test("a crash after any landing step keeps the watermark invariant; a rerun converges") {
    val prev = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
      .map(key => key -> spark.conf.getOption(key))
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // one crash-free run learns how many steps the delta's append has
      def attempt(k: Int): CrashingStore = {
        val src = tmpStore()
        val dir = Files.createTempDirectory("graft_sync").toString
        new ParquetStore(spark, dir).write(rows(1L to 10L: _*), "t")
        src.write(rows(1L to 60L: _*).union(rows(30, 45)), "t") // duplicate keys too
        val dst = new CrashingStore(dir, k)
        val crashed = scala.util.Try(SyncJob.run(src, dst, idCfg, Seq("id"))).isFailure
        assert(crashed === (k < dst.steps), s"k=$k")
        // past the commit (step 1), the next process reads the whole delta
        val wantAfter = if (k < 1) rows(1L to 10L: _*) else Merge.dedup(src.read("t").get, Seq("id"))
        assert(bag(new ParquetStore(spark, dir).read("t").get) === bag(wantAfter), s"k=$k")
        // the invariant: every source row at or below the destination's
        // MAX(id) has landed, so the next run's `id > MAX` misses nothing
        val landed = dst.read("t").get
        val wm = landed.agg(max($"id")).head.getLong(0)
        val missed = Merge.dedup(src.read("t").get.filter($"id" <= wm), Seq("id")).exceptAll(landed)
        assert(missed.count() === 0, s"k=$k")
        SyncJob.run(src, new ParquetStore(spark, dir), idCfg, Seq("id"))
        assert(bag(dst.read("t").get) === bag(Merge.dedup(src.read("t").get, Seq("id"))), s"k=$k")
        dst
      }
      val n = attempt(Int.MaxValue).steps
      // the commit, a move per file, the landing directory's deletion
      assert(n >= 5, "the delta should stage as several files")
      (0 until n).foreach(attempt)
    } finally prev.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None)    => spark.conf.unset(key)
    }
  }

  test("a crash after any step of a merge-path write keeps the watermark invariant; a rerun converges") {
    // the events shape: a timestamp check column that is not a key, so
    // the delta updates existing keys and the run merges and writes
    val at = (id: Long, day: Int, v: String) => (id, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00"), v)
    val old = Seq(at(1, 1, "a"), at(2, 2, "b"), at(3, 3, "c"), at(4, 4, "d")).toDF("id", "ts", "v")
    val source = old.filter($"id" =!= 2 && $"id" =!= 4)
      .union(Seq(at(2, 5, "b2"), at(4, 6, "d2"), at(5, 7, "e")).toDF("id", "ts", "v"))
    val cfg = TableConfig("t", Some("ts"), Some(CheckType.Timestamp), Seq.empty)
    def attempt(k: Int): CrashingStore = {
      val src = tmpStore()
      src.write(source, "t")
      val dir = Files.createTempDirectory("graft_sync").toString
      new ParquetStore(spark, dir).write(old, "t")
      val dst = new CrashingStore(dir, k)
      val crashed = scala.util.Try(SyncJob.run(src, dst, cfg, Seq("id"))).isFailure
      assert(crashed === (k < dst.steps), s"k=$k")
      // past the commit (step 1), the next process reads the merged table
      val merged = Merge.upsert(old, src.read("t").get, Seq("id"))
      assert(bag(new ParquetStore(spark, dir).read("t").get) === bag(if (k < 1) old else merged), s"k=$k")
      // the invariant: every source row at or below the destination's
      // MAX(ts) has landed, so the next run's `ts > MAX` misses nothing
      val landed = dst.read("t").get
      val wm = landed.agg(max($"ts")).head.getTimestamp(0)
      val missed = src.read("t").get.filter($"ts" <= lit(wm)).exceptAll(landed)
      assert(missed.count() === 0, s"k=$k")
      SyncJob.run(src, new ParquetStore(spark, dir), cfg, Seq("id"))
      assert(bag(dst.read("t").get) === bag(merged), s"k=$k")
      dst
    }
    val n = attempt(Int.MaxValue).steps
    // the commit, the old table's deletion, the marker's, the rename
    assert(n === 4)
    (0 until n).foreach(attempt)
  }

  test("a no-op incremental rerun adds no file") {
    val (src, dst) = (tmpStore(), spy())
    dst.inner.write(rows(1), "t")
    src.write(rows(1, 2, 3), "t")
    SyncJob.run(src, dst, idCfg, Seq("id"))
    val before = files(dst.inner, "t")
    val s = SyncJob.run(src, dst, idCfg, Seq("id"))
    assert(s.rowsUpserted === 0)
    assert(dst.appends === 2)
    assert(files(dst.inner, "t") === before)
  }

  test("an insert-only incremental sync writes exactly the delta's rows (O(delta) pin)") {
    val (src, dst) = (tmpStore(), tmpStore())
    dst.write(rows(1L to 1000L: _*), "t")
    src.write(rows(1L to 1030L: _*), "t")
    val tag = s"o-delta-${java.util.UUID.randomUUID()}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val written = new AtomicLong()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.tag") == tag))
          stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", tag)
    try {
      assert(SyncJob.run(src, dst, idCfg, Seq("id")).rowsUpserted === 30)
      org.apache.spark.TestBus.drain(sc)
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(listener)
    }
    assert(written.get === 30L) // a full rewrite would write 1030
    assert(dst.read("t").get.count() === 1030)
  }
}
