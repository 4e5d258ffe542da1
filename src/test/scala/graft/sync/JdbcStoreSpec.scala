package graft.sync

import graft.SparkSpec
import graft.config.{CheckType, TableConfig}
import org.apache.spark.sql.functions._

/** JdbcStore integration tests against embedded Derby (on Spark's own
  * classpath — no new dependency): the read-classification and write-staging
  * contracts that the unit-level TableStoreSpec can only simulate. */
class JdbcStoreSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  /** Fresh in-memory database per test: isolation without cleanup. */
  private def freshStore(): JdbcStore = {
    n += 1
    new JdbcStore(spark, s"jdbc:derby:memory:graft_spec_$n;create=true", Map.empty)
  }

  test("read of a missing table maps to None (bootstrap), not an error") {
    val store = freshStore()
    store.write(Seq((1L, "a")).toDF("id", "v"), "present") // creates the db
    assert(store.read("does_not_exist").isEmpty) // Derby 42X05 classified
    assert(store.read("present").isDefined)
  }

  test("read against an unreachable database rethrows instead of None") {
    // no create=true and never created: connection-level failure, which
    // must NOT be mistaken for 'table missing' (SyncJob would bootstrap
    // and overwrite the destination with the delta alone)
    val broken = new JdbcStore(spark, "jdbc:derby:memory:graft_never_created", Map.empty)
    intercept[Exception](broken.read("t"))
  }

  test("write replaces contents and is safe when the plan reads its own table") {
    val store = freshStore()
    store.write(Seq((1L, "old"), (2L, "old")).toDF("id", "v"), "t")
    // the merge pattern: new contents derived FROM the current contents
    val merged = graft.operators.Merge.upsert(
      store.read("t").get, Seq((2L, "new"), (3L, "new")).toDF("id", "v"), Seq("id"))
    store.write(merged, "t")
    val out = store.read("t").get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "old", 2L -> "new", 3L -> "new"))
  }

  test("append INSERTs only the new rows and leaves existing rows untouched") {
    val store = freshStore()
    store.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    store.append(Seq((3L, "c")).toDF("id", "v"), "t")
    val out = store.read("t").get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // appending an empty frame is a no-op, not a truncate
    store.append(Seq.empty[(Long, String)].toDF("id", "v"), "t")
    assert(store.read("t").get.count() === 3)
  }

  test("write with an EVOLVED schema recreates the table instead of truncate-then-fail") {
    val store = freshStore()
    store.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    // evolved frame: extra nullable column. A truncate-first write would
    // empty the table and then fail the INSERT (physical table lacks the
    // column) — the schema probe must take the recreate path instead.
    val evolved = graft.operators.Merge.upsertEvolving(
      store.read("t").get,
      Seq((2L, "b2", "en"), (3L, "c", "de")).toDF("id", "v", "lang"), Seq("id"))
    store.write(evolved, "t")
    val out = store.read("t").get
    assert(out.columns.map(_.toLowerCase).toSeq === Seq("id", "v", "lang"))
    val byId = out.collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byId === Map(1L -> (("a", null)), 2L -> (("b2", "en")), 3L -> (("c", "de"))))
  }

  test("NOT NULL destination + null-bearing staged frame recreates, not truncate-then-fail") {
    n += 1
    val url = s"jdbc:derby:memory:graft_spec_ddl_$n;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute("CREATE TABLE t (id BIGINT NOT NULL, v VARCHAR(20))")
      conn.createStatement().execute("INSERT INTO t VALUES (1, 'a')")
    } finally conn.close()
    val store = new JdbcStore(spark, url, Map.empty)
    // staged frame carries a NULL id: name->type maps match the table, but
    // a truncate-first write would empty it and then fail the INSERT —
    // the staged-data null probe must choose recreate
    store.write(Seq((Some(2L), "b"), (None, "c")).toDF("id", "v"), "t")
    val out = store.read("t").get.collect().map(r => Option(r.get(0)) -> r.getString(1)).toSet
    assert(out === Set(Some(2L) -> "b", None -> "c"))
  }

  test("NOT NULL destination + clean staged frame keeps the DDL-preserving truncate") {
    n += 1
    val url = s"jdbc:derby:memory:graft_spec_ddl2_$n;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute("CREATE TABLE t (id BIGINT NOT NULL, v VARCHAR(20))")
      conn.createStatement().execute("INSERT INTO t VALUES (1, 'a')")
    } finally conn.close()
    val store = new JdbcStore(spark, url, Map.empty)
    store.write(Seq((Some(2L), "b"), (Some(3L), "c")).toDF("id", "v"), "t")
    assert(store.read("t").get.count() === 2)
    // the NOT NULL constraint survived the write: proof the table was
    // truncated, not dropped and recreated from the (all-nullable) frame.
    // Checked via raw JDBC metadata — the Spark read schema is forced
    // all-nullable by design, so it can't witness the constraint.
    val conn2 = java.sql.DriverManager.getConnection(url)
    try {
      val md = conn2.createStatement().executeQuery("SELECT * FROM t WHERE 1=0").getMetaData
      val idIdx = (1 to md.getColumnCount)
        .find(i => md.getColumnLabel(i).equalsIgnoreCase("id")).get
      assert(md.isNullable(idIdx) === java.sql.ResultSetMetaData.columnNoNulls)
    } finally conn2.close()
  }

  test("writeAtomic replaces contents, bootstraps a missing table, reads its own table safely") {
    val store = freshStore()
    // bootstrap: destination does not exist yet
    store.writeAtomic(Seq((1L, "old"), (2L, "old")).toDF("id", "v"), "t")
    assert(store.read("t").get.count() === 2)
    // the merge pattern: new contents derived FROM the current contents —
    // the staged localCheckpoint must materialize before the DELETE runs
    val merged = graft.operators.Merge.upsert(
      store.read("t").get, Seq((2L, "new"), (3L, "new")).toDF("id", "v"), Seq("id"))
    store.writeAtomic(merged, "t")
    val out = store.read("t").get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "old", 2L -> "new", 3L -> "new"))
    // the stage table was dropped after the swap
    assert(store.read("t__stage").isEmpty)
  }

  test("writeAtomic: a failed swap rolls back to the COMPLETE old contents") {
    val store = freshStore()
    store.writeAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    // tighten the real table's DDL so the swap's INSERT must fail midway:
    // plain write would have truncated first (torn); the transactional swap
    // must roll the DELETE back
    val url = s"jdbc:derby:memory:graft_spec_$n"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute("""ALTER TABLE t ALTER COLUMN "id" NOT NULL""")
    finally conn.close()
    intercept[Exception] {
      store.writeAtomic(Seq((Some(3L), "c"), (None, "boom")).toDF("id", "v"), "t")
    }
    // old contents fully intact: the DELETE that preceded the failed INSERT
    // was rolled back with it — not an empty table, not a partial one
    val out = store.read("t").get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "a", 2L -> "b"))
  }

  test("writeAtomic with an EVOLVED column set recreates instead of failing the swap forever") {
    val store = freshStore()
    // legacy state table: no lineage column (the pre-__run shape)
    store.writeAtomic(Seq((1L, 10L)).toDF("k", "n"), "t")
    // adoption write stamps a NEW column: the DML swap cannot land it in
    // the old table, so this one migration write must take the recreate
    // path (non-atomic once) rather than rolling back on every retry
    store.writeAtomic(Seq((1L, 11L, "lineage-a")).toDF("k", "n", "__run"), "t")
    val out = store.read("t").get
    assert(out.columns.map(_.toLowerCase).toSet === Set("k", "n", "__run"))
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      === Set((1L, 11L, "lineage-a")))
    // steady state after migration: the atomic swap path again
    store.writeAtomic(Seq((1L, 12L, "lineage-a")).toDF("k", "n", "__run"), "t")
    assert(store.read("t").get.collect().map(_.getLong(1)).toSeq === Seq(12L))
  }

  test("maintainStats over a JdbcStore: state+marker swap atomically, lineage resume works") {
    val store = freshStore()
    val rows = Seq((1L, 10L), (1L, 30L), (2L, 5L)).toDF("k", "v")
    val tmp = java.nio.file.Files.createTempDirectory("graft_msj").toString
    rows.filter($"v" >= 10L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    rows.filter($"v" < 10L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    graft.streaming.IncrementalStream.maintainStats(stream(), Seq("k"), "v",
      store, "stats", checkpointDir = s"$tmp/ck")
      .awaitTermination()
    def state() = store.read("stats").get.drop("__last_batch", "__run").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(state() === Set((1L, 2L, 40L, 10L, 30L), (2L, 1L, 5L, 5L, 5L)))
    // same-lineage resume: one new file, exactly one new batch folds in
    Seq((2L, 7L)).toDF("k", "v").coalesce(1).write.mode("append").parquet(s"$tmp/src")
    graft.streaming.IncrementalStream.maintainStats(stream(), Seq("k"), "v",
      store, "stats", checkpointDir = s"$tmp/ck")
      .awaitTermination()
    assert(state() === Set((1L, 2L, 40L, 10L, 30L), (2L, 2L, 12L, 5L, 7L)))
  }

  test("SyncJob end-to-end over JDBC: bootstrap, incremental, schema evolution") {
    val (src, dst) = (freshStore(), freshStore())
    val cfg = TableConfig("t", Some("id"), Some(CheckType.Id), Seq.empty)
    src.write(Seq((1L, "v1"), (2L, "v2")).toDF("id", "v"), "t")
    val s1 = SyncJob.run(src, dst, cfg, Seq("id")) // dest missing -> full copy
    assert(s1.mode === "full" || s1.mode.startsWith("incremental id > 0"))
    assert(dst.read("t").get.count() === 2)
    src.write(Seq((1L, "v1"), (2L, "v2"), (3L, "v3"), (4L, "v4")).toDF("id", "v"), "t")
    SyncJob.run(src, dst, cfg, Seq("id"))
    assert(dst.read("t").get.count() === 4)
    // upstream adds a column; evolving sync must converge without data loss
    src.write(Seq((1L, "v1", "en"), (2L, "v2", "en"), (3L, "v3", "en"),
      (4L, "v4", "en"), (5L, "v5", "de")).toDF("id", "v", "lang"), "t")
    SyncJob.run(src, dst, cfg, Seq("id"), allowSchemaEvolution = true)
    val out = dst.read("t").get.collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(out === Map(1L -> None, 2L -> None, 3L -> None, 4L -> None, 5L -> Some("de")))
  }
}
