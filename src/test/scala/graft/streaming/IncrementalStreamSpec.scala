package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

class IncrementalStreamSpec extends SparkSpec {
  import spark.implicits._

  test("warcIngest: two-batch crawl equals the batch pipeline; admission + minKept gate") {
    import graft.sources.Warc.record
    import graft.sync.ParquetStore
    implicit val s = spark
    val UTF8 = java.nio.charset.StandardCharsets.UTF_8
    def http(status: Int, ctype: String, body: String) =
      (s"HTTP/1.1 $status X\r\nContent-Type: $ctype\r\n\r\n$body").getBytes(UTF8)
    val page = "<html><p>alpha beta gamma delta epsilon zeta body text here</p></html>"
    def file(id: Long) = record("warcinfo", None, "m".getBytes(UTF8)) ++
      record("response", Some(s"http://e/$id"), http(200, "text/html", page)) ++
      record("response", Some(s"http://e/$id/404"), http(404, "text/html", page)) ++
      record("response", Some(s"http://e/$id/txt"), http(200, "text/plain", page)) ++
      record("response", Some(s"http://e/$id/nav"),
        http(200, "text/html", "<html><p><a href=x>only a link</a></p></html>"))
    val src = Files.createTempDirectory("graft_wi_src").toString
    val ck = Files.createTempDirectory("graft_wi_ck").toString
    val store = new ParquetStore(spark,
      Files.createTempDirectory("graft_wi_out").toString)
    // two files, two micro-batches (maxFilesPerTrigger = 1)
    Seq((1L, file(1L))).toDF("file_id", "content").write.mode("append").parquet(src)
    Seq((2L, file(2L))).toDF("file_id", "content").write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    IncrementalStream.warcIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*.parquet"),
      store, "corpus", ck, minChars = 5, minKept = 1).awaitTermination()
    val got = store.read("corpus").get.collect()
      .map(r => (r.getAs[Long]("file_id"), r.getAs[String]("url"),
        r.getAs[String]("main"))).toSet
    // only the 200 text/html records with a kept block survive — the
    // 404, the text/plain sidecar, and the link-only nav shell do not
    assert(got === Set(
      (1L, "http://e/1", "alpha beta gamma delta epsilon zeta body text here"),
      (2L, "http://e/2", "alpha beta gamma delta epsilon zeta body text here")))
    // replay from a fresh checkpoint (foreign lineage) appends nothing new
    IncrementalStream.warcIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*.parquet"),
      store, "corpus",
      Files.createTempDirectory("graft_wi_ck2").toString,
      minChars = 5, minKept = 1).awaitTermination()
    assert(store.read("corpus").get.count() === 2)
  }

  test("frontierGate: canonical dedup across batches, NULL urls dropped, replay-safe") {
    import graft.sync.ParquetStore
    val src = Files.createTempDirectory("graft_fg_src").toString
    val cp = Files.createTempDirectory("graft_fg_cp").toString
    val store = new ParquetStore(spark, Files.createTempDirectory("graft_fg_st").toString)
    // batch 1: two mess forms of ONE canonical url + a non-url
    Seq((7L, "HTTP://A.com:80/x?utm_s=1&b=2"), (3L, "http://a.com/x?b=2"),
        (9L, "not a url"))
      .toDF("id", "u").coalesce(1).write.mode("append").parquet(src)
    // batch 2: the same canonical again (must be rejected) + a new one
    Seq((1L, "http://A.COM/x?b=2#f"), (5L, "https://b.org/y"))
      .toDF("id", "u").coalesce(1).write.mode("append").parquet(src)
    def stream() = spark.readStream
      .schema(Seq((0L, "")).toDF("id", "u").schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    IncrementalStream.frontierGate(stream(), "id", "u", store, "seen",
      checkpointDir = cp).awaitTermination()
    val out = store.read("seen").get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // NOTE file order is modification-time-arbitrary for same-ms writes,
    // but the canonical key's winner is 3 regardless only if batch 1 wins
    // the race — so assert the INVARIANTS instead: exactly one row per
    // canonical, the non-url dropped, and the winner is one of the
    // same-canonical ids with the in-batch minimum guarantee
    assert(out.map(_._2) === Set("http://a.com/x?b=2", "https://b.org/y"))
    assert(out.forall { case (id, u) =>
      if (u == "https://b.org/y") id == 5L else Set(1L, 3L).contains(id) })
    // rerun over the SAME checkpoint: nothing re-appends (exactly-once)
    IncrementalStream.frontierGate(stream(), "id", "u", store, "seen",
      checkpointDir = cp).awaitTermination()
    assert(store.read("seen").get.count() === 2L)
  }

  test("frontierGate: per-host budget caps a hot host across batches; sparse hosts unaffected") {
    import graft.sync.ParquetStore
    val src = Files.createTempDirectory("graft_fgb_src").toString
    val cp = Files.createTempDirectory("graft_fgb_cp").toString
    val store = new ParquetStore(spark, Files.createTempDirectory("graft_fgb_st").toString)
    Seq((4L, "http://hot.com/a"), (2L, "http://hot.com/b"), (1L, "http://hot.com/c"),
        (3L, "http://hot.com/d"), (10L, "http://s1.com/"))
      .toDF("id", "u").coalesce(1).write.mode("append").parquet(src)
    Seq((5L, "http://hot.com/e"), (6L, "http://hot.com/f"), (11L, "http://s2.com/"))
      .toDF("id", "u").coalesce(1).write.mode("append").parquet(src)
    IncrementalStream.frontierGate(
      spark.readStream.schema(Seq((0L, "")).toDF("id", "u").schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      "id", "u", store, "seen", checkpointDir = cp,
      maxPerHost = Some(3L)).awaitTermination()
    val out = store.read("seen").get.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // the hot host lands EXACTLY its budget (whichever batch order the
    // file source picked — within a batch the lowest ids win); sparse
    // hosts are untouched; the host column derives from the canonical
    assert(out.count(_._3 == "hot.com") === 3)
    assert(out.filter(_._3 != "hot.com").map(t => (t._1, t._3)).toSet ===
      Set((10L, "s1.com"), (11L, "s2.com")))
    assert(out.length === 5)
    // re-run over the same checkpoint: budget state does not double
    IncrementalStream.frontierGate(
      spark.readStream.schema(Seq((0L, "")).toDF("id", "u").schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      "id", "u", store, "seen", checkpointDir = cp,
      maxPerHost = Some(3L)).awaitTermination()
    assert(store.read("seen").get.count() === 5L)
  }

  test("frontierGate budget admission is deterministic under duplicate ids") {
    import graft.sync.ParquetStore
    val src = s"${Files.createTempDirectory("graft_fgt").toString}/src"
    val store = new ParquetStore(spark, Files.createTempDirectory("graft_fgt_st").toString)
    // ids are NOT required unique per row: three distinct URLs on one
    // host share id 1. Ranked only by id, which one wins the budget of 1
    // would be partition-order nondeterministic; the url_norm tie-break
    // pins the admission to the lexicographically-smallest canonical.
    Seq((1L, "http://h.com/c"), (1L, "http://h.com/a"), (1L, "http://h.com/b"))
      .toDF("id", "u").repartition(3).write.parquet(src)
    IncrementalStream.frontierGate(
      spark.readStream.schema(Seq((0L, "")).toDF("id", "u").schema).parquet(src),
      "id", "u", store, "seen",
      checkpointDir = Files.createTempDirectory("graft_fgt_cp").toString,
      maxPerHost = Some(1L)).awaitTermination()
    val out = store.read("seen").get.collect().map(_.getString(1)).toSeq
    assert(out === Seq("http://h.com/a"))
  }

  test("frontierGate budget counts a LEGACY host-less seen table (host re-derived at read)") {
    import graft.sync.ParquetStore
    val src = s"${Files.createTempDirectory("graft_fgl").toString}/src"
    val store = new ParquetStore(spark, Files.createTempDirectory("graft_fgl_st").toString)
    // a pre-budget deployment accumulated (id, url_norm) with NO host
    // column: its two hot.com rows must count toward the budget
    store.write(Seq((1L, "http://hot.com/a"), (2L, "http://hot.com/b"))
      .toDF("id", "url_norm"), "seen")
    Seq((5L, "http://hot.com/c"), (6L, "http://hot.com/d"), (7L, "http://s.com/"))
      .toDF("id", "u").coalesce(1).write.parquet(src)
    IncrementalStream.frontierGate(
      spark.readStream.schema(Seq((0L, "")).toDF("id", "u").schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      "id", "u", store, "seen",
      checkpointDir = Files.createTempDirectory("graft_fgl_cp").toString,
      maxPerHost = Some(3L)).awaitTermination()
    val hot = store.read("seen").get
      .filter($"url_norm".startsWith("http://hot.com")).count()
    // 2 legacy + exactly ONE more (the remaining budget), never 4
    assert(hot === 3L)
  }

  test("upsertSync: multi-batch continuous sync converges to latest-per-key, any file order") {
    import graft.sync.ParquetStore
    val src = Files.createTempDirectory("graft_us_src").toString
    val cp = Files.createTempDirectory("graft_us_cp").toString
    val destDir = Files.createTempDirectory("graft_us_dst").toString
    // the FRESHER row for key 1 lands in the FIRST file, the staler one in
    // the second: arrival order is the adversarial one, upsertIfNewer must
    // still converge to ts=20
    Seq((1L, 20L, "fresh")).toDF("k", "ts", "v").coalesce(1).write.mode("append").parquet(src)
    Seq((1L, 10L, "stale"), (2L, 5L, "only")).toDF("k", "ts", "v")
      .coalesce(1).write.mode("append").parquet(src)
    val store = new ParquetStore(spark, destDir)
    store.write(Seq((3L, 0L, "preseed"), (2L, 99L, "newer-than-stream"))
      .toDF("k", "ts", "v"), "t")
    val stream = spark.readStream
      .schema(Seq((0L, 0L, "")).toDF("k", "ts", "v").schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    IncrementalStream.upsertSync(stream, store, "t",
      pks = Seq("k"), orderCols = Seq("ts"), checkpointDir = cp).awaitTermination()
    val out = store.read("t").get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out === Set(
      (1L, 20L, "fresh"),             // stale later batch did NOT clobber
      (2L, 99L, "newer-than-stream"), // fresher dest row survives the stream
      (3L, 0L, "preseed")))           // key absent from stream survives

    // RESTART with the same checkpoint: only the new file is processed
    // (replaying the old ones through upsertIfNewer would be harmless for
    // the final state, but exactly-once is the watermark contract), and a
    // stale late row for key 1 still cannot regress the destination
    Seq((1L, 15L, "late-stale"), (4L, 1L, "new-key")).toDF("k", "ts", "v")
      .coalesce(1).write.mode("append").parquet(src)
    val stream2 = spark.readStream
      .schema(Seq((0L, 0L, "")).toDF("k", "ts", "v").schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    IncrementalStream.upsertSync(stream2, store, "t",
      pks = Seq("k"), orderCols = Seq("ts"), checkpointDir = cp).awaitTermination()
    val out2 = store.read("t").get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out2 === Set(
      (1L, 20L, "fresh"),
      (2L, 99L, "newer-than-stream"),
      (3L, 0L, "preseed"),
      (4L, 1L, "new-key")))
  }

  test("enrichWithDim: static side joins each streaming row (broadcast)") {
    val src = Files.createTempDirectory("graft_en_src").toString
    Seq((1L, 10L), (2L, 20L), (1L, 30L)).toDF("k", "x")
      .write.mode("overwrite").parquet(src)
    val dim = Seq((1L, "one"), (2L, "two")).toDF("k", "name")
    val stream = spark.readStream
      .schema(Seq((0L, 0L)).toDF("k", "x").schema).parquet(src)
    val sink = s"en_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = IncrementalStream.enrichWithDim(stream, dim, Seq("k"))
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    spark.catalog.dropTempView(sink)
    assert(out === Set((1L, 10L, "one"), (2L, 20L, "two"), (1L, 30L, "one")))
  }

  test("sessionizeStream: custom state via flatMapGroupsWithState across runs") {
    import IncrementalStream.{ClosedSession, SessionEvent}
    val src = Files.createTempDirectory("graft_ss_sess").toString
    val dst = Files.createTempDirectory("graft_ss_sess_out").toString
    val cp = Files.createTempDirectory("graft_ss_sess_cp").toString

    def ev(id: Long, tsMs: Long) = SessionEvent(7L, id, new java.sql.Timestamp(tsMs))

    def runBatch(batch: Seq[SessionEvent]): Set[ClosedSession] = {
      batch.toDF().write.mode("append").parquet(src)
      val stream = spark.readStream.schema(batch.toDF().schema).parquet(src).as[SessionEvent]
      val q = IncrementalStream.sessionizeStream(stream, gapUs = 50000L, watermarkDelay = "1 second")
        .writeStream.format("parquet")
        .option("path", dst)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(dst).as[ClosedSession].collect().toSet
    }

    // ts values well above 0: Spark's initial watermark is 0 and the late-row
    // filter drops rows not strictly later than it (an epoch-0 event is lost)
    // batch 1: one open session for user 7 — nothing closed yet
    assert(runBatch(Seq(ev(1L, 100000L), ev(2L, 100010L))) === Set.empty)
    // batch 2: a far-future event closes the session held in STATE
    // (ClosedSession bounds are epoch MICROS)
    assert(runBatch(Seq(ev(3L, 10000000L))) ===
      Set(ClosedSession(7L, 100000000L, 100010000L, 2L)))
  }

  test("sessionizeStream: a cross-batch late event beyond the gap is its own session") {
    import IncrementalStream.{ClosedSession, SessionEvent}
    val src = Files.createTempDirectory("graft_ss_late").toString
    val dst = Files.createTempDirectory("graft_ss_late_out").toString
    val cp = Files.createTempDirectory("graft_ss_late_cp").toString
    def ev(id: Long, tsMs: Long) = SessionEvent(9L, id, new java.sql.Timestamp(tsMs))
    def runBatch(batch: Seq[SessionEvent]): Set[ClosedSession] = {
      batch.toDF().write.mode("append").parquet(src)
      val stream = spark.readStream.schema(batch.toDF().schema).parquet(src).as[SessionEvent]
      val q = IncrementalStream.sessionizeStream(stream, gapUs = 50000L,
          watermarkDelay = "10 minutes")
        .writeStream.format("parquet").option("path", dst)
        .option("checkpointLocation", cp).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(dst).as[ClosedSession].collect().toSet
    }
    // batch 1 opens a session at t=600s; batch 2 delivers a late event at
    // t=590s — 10 s before the session, gap is 50 ms. The old vacuous
    // `ts - last <= gap` guard merged them into one 10-second session;
    // it must close as its OWN singleton instead, state unchanged
    assert(runBatch(Seq(ev(1L, 600000L))) === Set.empty)
    assert(runBatch(Seq(ev(2L, 590000L))) ===
      Set(ClosedSession(9L, 590000000L, 590000000L, 1L)))
  }

  test("streamPairsWithin joins temporal neighbors exactly once, oriented") {
    val src = Files.createTempDirectory("graft_ss_pairs").toString
    // user 1: three events at t=100s, 130s, 200s with 60s window:
    // (100,130) and (130,200)* in-window... (200-130=70 > 60) -> only (100,130);
    // plus a tie pair at t=300s with distinct ids -> exactly one orientation.
    // user 2: isolated event, no pairs.
    val rows = Seq(
      (1L, 10L, 100_000_000L), (1L, 11L, 130_000_000L), (1L, 12L, 200_000_000L),
      (1L, 13L, 300_000_000L), (1L, 14L, 300_000_000L),
      (2L, 20L, 100_000_000L))
    rows.toDF("user_id", "event_id", "us")
      .select($"user_id", $"event_id", timestamp_micros($"us").as("ts"))
      .write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema).parquet(src)
    val pairs = IncrementalStream.streamPairsWithin(
      stream, "user_id", "event_id", "ts", "INTERVAL 60 SECONDS", "1 minute")
    val q = pairs.writeStream.format("memory").queryName("sp")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(got === Set(
      (1L, 10L, 11L),   // 100s -> 130s: 30s gap, within the 60s window
      (1L, 13L, 14L)))  // tie at 300s: lower id first, exactly once
    // NOT present: (11,12) 70s and (12,13) 100s exceed the window;
    // (14,13) would double-emit the tie; user 2 is isolated
  }

  test("windowedCounts aggregates event-time windows with bounded state") {
    val src = Files.createTempDirectory("graft_ss_ev").toString
    val dfEvents = Seq(
      ("2024-01-01 00:00:10", "click"), ("2024-01-01 00:00:50", "click"),
      ("2024-01-01 00:01:10", "view")).toDF("s", "event_type")
      .select(to_timestamp($"s").as("ts"), $"event_type")
    dfEvents.write.mode("overwrite").parquet(src)

    val stream = spark.readStream.schema(dfEvents.schema).parquet(src)
    val q = IncrementalStream.windowedCounts(stream, "ts", "event_type", "1 minute", "10 minutes")
      .writeStream.format("memory").queryName("wc")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("wc").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString, r.getString(1), r.getLong(2))).toSet
    assert(rows === Set(
      ("2024-01-01 00:00:00.0", "click", 2L),
      ("2024-01-01 00:01:00.0", "view", 1L)))
  }

  test("knnServe: micro-batched serving equals the batch join, any query split") {
    import graft.sync.ParquetStore
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(1f, 1f)), (4L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" <= 2)
    val tmp = Files.createTempDirectory("graft_ks").toString
    // adversarial split: one query per file, one file per micro-batch
    queries.filter($"vec_id" === 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    queries.filter($"vec_id" === 2L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.knnServe(stream, corpus, "vec_id", "embedding", k = 2,
      store, "served", checkpointDir = s"$tmp/ck").awaitTermination()
    val got = store.read("served").get
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.similarity.Similarity
      .knnJoin(queries, corpus, "vec_id", "embedding", k = 2)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.map(_._1) === Set(1L, 2L))
    // cross-lineage re-delivery: replaying the SAME source against the same
    // store under a FRESH checkpoint (new lineage, batch ids restart at 0)
    // must append nothing — foreign-lineage rows are in the retry guard's
    // anti-join build side, so every pair is found served
    IncrementalStream.knnServe(stream, corpus, "vec_id", "embedding", k = 2,
      store, "served", checkpointDir = s"$tmp/ck2").awaitTermination()
    assert(store.read("served").get.count() === got.size)
  }

  test("knnServe: a partially-appended batch self-heals on retry, pair-exact") {
    import graft.sync.ParquetStore
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(1f, 1f)), (4L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" <= 2)
    val tmp = Files.createTempDirectory("graft_ksheal").toString
    queries.filter($"vec_id" === 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    queries.filter($"vec_id" === 2L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.knnServe(stream(), corpus, "vec_id", "embedding", k = 2,
      store, "served", checkpointDir = s"$tmp/ck").awaitTermination()
    val full = store.read("served").get
    assert(full.count() === 4) // 2 queries x k=2
    // CRASH SIMULATION: batch 1's checkpoint commit is lost AND its append
    // only partially landed — drop one of batch 1's pairs from the log and
    // delete commits/1, so the restart re-runs batch 1 against a log that
    // already holds SOME of its rows (the scaladoc's partial-append window)
    val b1 = full.filter($"__batch" === 1L)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(b1.length === 2)
    val (dq, dn) = b1.head
    store.write(full.filter(!($"__batch" === 1L && $"query_id" === dq && $"neighbor_id" === dn)),
      "served")
    assert(store.read("served").get.count() === 3)
    assert(new java.io.File(s"$tmp/ck/commits/1").delete())
    // the local FS keeps a checksum shadow; a stale one fails the commit
    // log's atomic rename on re-write (read as a concurrent writer)
    new java.io.File(s"$tmp/ck/commits/.1.crc").delete()
    // SAME checkpoint restart: batch 1 re-runs and must re-append exactly
    // the one missing pair — not zero (the old query_id-level guard dropped
    // it forever: fewer than k neighbors served), not two (duplicates)
    IncrementalStream.knnServe(stream(), corpus, "vec_id", "embedding", k = 2,
      store, "served", checkpointDir = s"$tmp/ck").awaitTermination()
    val healed = store.read("served").get
    assert(healed.count() === 4)
    val dups = healed.groupBy($"query_id", $"neighbor_id").count().filter($"count" > 1)
    assert(dups.isEmpty)
    val pairs = healed.select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.similarity.Similarity
      .knnJoin(queries, corpus, "vec_id", "embedding", k = 2)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === want)
  }

  test("knnServe: legacy NULL-lineage rows stay in the retry guard (no re-append)") {
    import graft.sync.ParquetStore
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(1f, 1f)), (4L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" <= 2)
    val tmp = Files.createTempDirectory("graft_kslegacy").toString
    queries.coalesce(1).write.parquet(s"$tmp/src")
    // a continued-in-place pre-stamp log: the same pairs, but with NULL
    // (__run, __batch) — what legacy rows read as after schema merge.
    // `null =!= run` is NULL under three-valued logic; the guard's isNull
    // arm must keep these rows collidable or the replay re-appends them
    val store = new ParquetStore(spark, s"$tmp/out")
    store.write(graft.similarity.Similarity
        .knnJoin(queries, corpus, "vec_id", "embedding", k = 2)
        .withColumn("__run", lit(null).cast("string"))
        .withColumn("__batch", lit(null).cast("long")), "served")
    val before = store.read("served").get.count()
    val stream = spark.readStream.schema(corpus.schema).parquet(s"$tmp/src/*.parquet")
    IncrementalStream.knnServe(stream, corpus, "vec_id", "embedding", k = 2,
      store, "served", checkpointDir = s"$tmp/ck").awaitTermination()
    assert(store.read("served").get.count() === before)
  }

  test("indexIngest: incrementally-built index equals a batch rebuild and serves identically") {
    import graft.similarity.Similarity
    import graft.sync.ParquetStore
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(0.1f, 0.9f)),
      (5L, Array(-1f, 0f)), (6L, Array(0.7f, 0.7f)))
      .toDF("vec_id", "embedding")
    val batchIdx = Similarity.ivfIndex(emb, "vec_id", "embedding", numCentroids = 2)
    val tmp = Files.createTempDirectory("graft_ii").toString
    // three files -> three micro-batches
    emb.filter($"vec_id" <= 2).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    emb.filter($"vec_id" === 3L || $"vec_id" === 4L).coalesce(1)
      .write.mode("append").parquet(s"$tmp/src")
    emb.filter($"vec_id" >= 5L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.indexIngest(stream, batchIdx.cents, "vec_id", "embedding",
      store, "assigned", checkpointDir = s"$tmp/ck").awaitTermination()
    val inc = store.read("assigned").get
    val incAssign = inc.select($"vec_id", $"__centroid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val batchAssign = batchIdx.assigned.select($"vec_id", $"__centroid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(incAssign === batchAssign)
    assert(inc.count() === 6)
    // the accumulated table IS a servable index: knnJoinIvf through it
    // returns exactly what the batch-built index returns
    val queries = emb.filter($"vec_id" <= 2)
    def topk(idx: Similarity.IvfIndex) =
      Similarity.knnJoinIvf(idx, queries, "vec_id", "embedding", k = 2, nprobe = 2)
        .select($"query_id", $"neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(topk(Similarity.IvfIndex(batchIdx.cents, inc)) === topk(batchIdx))
  }

  test("dedupIndexIngest: accumulated two-table index equals a batch build and serves identically") {
    import graft.dedup.Dedup
    import graft.sync.ParquetStore
    import graft.text.TextAnalysis
    val shingler: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => Dedup.hashedShingles(TextAnalysis.tokenSet(c))
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "totally different words about some other topic entirely here"),
      (3L, "third document with its own unique vocabulary and content"))
      .toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("graft_ddi").toString
    docs.filter($"doc_id" === 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    docs.filter($"doc_id" > 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.dedupIndexIngest(stream(), "doc_id", "text",
      shingler, numHashes = 20, bands = 4, store, checkpointDir = s"$tmp/ck")
      .awaitTermination()
    val batch = Dedup.buildNearDupIndex(docs, "doc_id", "text", shingler, 20, 4)
    def bandRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_b", $"band", $"bh").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(bandRows(store.read("band_index").get) === bandRows(batch.bandIndex))
    def setRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_b", $"__sb").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(setRows(store.read("shingle_sets").get) === setRows(batch.shingleSets))
    // the accumulated tables ARE a servable index: an exact-twin arrival
    // of doc 1 is rejected through duplicateIdsStream
    val twin = Seq((9L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    twin.coalesce(1).write.parquet(s"$tmp/arr")
    val arrStream = spark.readStream.schema(twin.schema)
      .parquet(s"$tmp/arr/*.parquet")
    val idx = Dedup.NearDupIndex(
      store.read("band_index").get, store.read("shingle_sets").get)
    val dups = Dedup.duplicateIdsStream(arrStream, idx, "doc_id", "text",
      shingler, num = 9, den = 10, numHashes = 20, bands = 4,
      eventTimeCol = org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.lit(86400000000L)),
      watermarkDelay = "10 minutes")
    val sink = s"ddi_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    dups.writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination()
    assert(spark.table(sink).collect().map(_.getLong(0)).toSet === Set(9L))
    spark.catalog.dropTempView(sink)
    // fresh checkpoint over the same source: cross-lineage guard, no dups
    val (b0, s0) = (store.read("band_index").get.count(),
      store.read("shingle_sets").get.count())
    IncrementalStream.dedupIndexIngest(stream(), "doc_id", "text",
      shingler, numHashes = 20, bands = 4, store, checkpointDir = s"$tmp/ck2")
      .awaitTermination()
    assert(store.read("band_index").get.count() === b0)
    assert(store.read("shingle_sets").get.count() === s0)
  }

  test("overlapIndexIngest: gated accumulated fingerprints equal a batch rebuild; replay-safe") {
    import graft.sync.ParquetStore
    import graft.text.Winnow
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "iota kappa lambda mu nu xi omicron pi"),
      (3L, "alpha beta gamma delta rho sigma tau upsilon"))
      .toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("graft_oii").toString
    docs.filter($"doc_id" === 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    docs.filter($"doc_id" > 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.overlapIndexIngest(stream(), "doc_id", "text",
      store, "fps", checkpointDir = s"$tmp/ck").awaitTermination()
    def served() = Winnow.gateIndex(
        store.read("fps").get.select($"fp", $"doc_id"), "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = Winnow.buildOverlapIndex(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(served() === batch)
    assert(served().nonEmpty)
    // the accumulated table probes overlapGate identically to a built index
    val probe = Seq((9L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val hits = Winnow.indexRows(probe, "doc_id", "text")
      .select($"fp", $"doc_id".as("id_a"))
      .join(Winnow.gateIndex(store.read("fps").get.select($"fp", $"doc_id"), "doc_id")
        .select($"fp", $"doc_id".as("id_b")), "fp")
      .groupBy($"id_a", $"id_b").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.map(_._2).contains(1L)) // shares the planted run with doc 1
    // fresh checkpoint over the same source: cross-lineage guard, no dups
    val before = store.read("fps").get.count()
    IncrementalStream.overlapIndexIngest(stream(), "doc_id", "text",
      store, "fps", checkpointDir = s"$tmp/ck2").awaitTermination()
    assert(store.read("fps").get.count() === before)
  }

  test("embedDupGate: rejects exactly the near-dup arrivals, batch-split-invariant, replay-safe") {
    import graft.similarity.Similarity
    import graft.sync.ParquetStore
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f)), (3L, Array(0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val arrivals = Seq(
      (10L, Array(1f, 0f, 0f)),      // exact twin of 1 -> reject
      (11L, Array(0.8f, 0.6f, 0f)),  // cos 0.8 to both 1 and 2 -> keep
      (12L, Array(0f, 0.99f, 0.14f)) // cos ~0.990 to 2 -> reject
    ).toDF("vec_id", "embedding")
    val tmp = Files.createTempDirectory("graft_edg").toString
    arrivals.filter($"vec_id" <= 10L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    arrivals.filter($"vec_id" > 10L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(arrivals.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.embedDupGate(stream(), corpus, "vec_id", "embedding",
      threshold = 0.95, store, "rejects", checkpointDir = s"$tmp/ck").awaitTermination()
    def rejects() = store.read("rejects").get.select($"vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(rejects() === Set(10L, 12L))
    // parity with the batch probe over the same inputs
    val batch = Similarity.embedDupIds(arrivals, corpus, "vec_id", "embedding", 0.95)
      .collect().map(_.getLong(0)).toSet
    assert(rejects() === batch)
    // fresh checkpoint over the same source: cross-lineage guard, no dups
    IncrementalStream.embedDupGate(stream(), corpus, "vec_id", "embedding",
      threshold = 0.95, store, "rejects", checkpointDir = s"$tmp/ck2").awaitTermination()
    assert(store.read("rejects").get.count() === 2)
  }

  test("qualityGate: streamed verdicts equal the batch partition; foreign-lineage replay appends nothing") {
    import graft.sync.ParquetStore
    import graft.text.NgramStats
    val ref = Seq((0L, "a b a b"), (1L, "b c")).toDF("doc_id", "text")
    val lm = NgramStats.bigramCounts(ref, "doc_id", "text")
    val docs = Seq(
      (10L, "a b a b a b a b a b z"), // 1/10 oov -> head
      (11L, "b c a"),                 // 1/2 oov -> middle
      (12L, "x y z w"))               // all oov -> tail
      .toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("graft_qg").toString
    docs.filter($"doc_id" <= 10L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    docs.filter($"doc_id" > 10L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.qualityGate(stream(), lm, "doc_id", "text",
      store, "verdicts", checkpointDir = s"$tmp/ck").awaitTermination()
    def verdicts() = store.read("verdicts").get
      .select($"doc_id", $"n_bigrams", $"n_oov", $"bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val batch = NgramStats.oovBuckets(docs, lm, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(verdicts() === batch)
    assert(verdicts().map(_._4) === Set("head", "middle", "tail"))
    // fresh checkpoint over the same source: the cross-lineage guard finds
    // every doc already judged — nothing appends, no duplicate verdicts
    IncrementalStream.qualityGate(stream(), lm, "doc_id", "text",
      store, "verdicts", checkpointDir = s"$tmp/ck2").awaitTermination()
    assert(store.read("verdicts").get.count() === batch.size)
  }

  test("maintainStats folds batches into exact state, resumes a lineage, rejects a foreign one") {
    import graft.sync.ParquetStore
    val rows = Seq((1L, 10L), (1L, 30L), (2L, 5L), (2L, -7L), (3L, 0L))
      .toDF("k", "v")
    val tmp = Files.createTempDirectory("graft_ms").toString
    // three files -> three micro-batches, keys straddling batch boundaries
    rows.filter($"v" > 5L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    rows.filter($"v" === 5L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    rows.filter($"v" < 5L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.maintainStats(stream(), Seq("k"), "v",
      store, "stats", checkpointDir = s"$tmp/ck").awaitTermination()
    def state() = store.read("stats").get.drop("__last_batch", "__run").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val want = Set((1L, 2L, 40L, 10L, 30L), (2L, 2L, -2L, -7L, 5L), (3L, 1L, 0L, 0L, 0L))
    assert(state() === want)
    // LEGITIMATE resume: same checkpoint, one new source file — exactly the
    // new batch folds in (replayed ids skip, the new id merges)
    Seq((1L, 2L), (4L, 8L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    IncrementalStream.maintainStats(stream(), Seq("k"), "v",
      store, "stats", checkpointDir = s"$tmp/ck").awaitTermination()
    assert(state() === Set(
      (1L, 3L, 42L, 2L, 30L), (2L, 2L, -2L, -7L, 5L),
      (3L, 1L, 0L, 0L, 0L), (4L, 1L, 8L, 8L, 8L)))
    // FOREIGN lineage: a fresh checkpoint restarts batch ids at 0 while
    // re-reading everything — neither skip (loses the would-be-new data)
    // nor merge (double-counts) is correct, so the query must FAIL FAST
    // and leave the state untouched
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      IncrementalStream.maintainStats(stream(), Seq("k"), "v",
        store, "stats", checkpointDir = s"$tmp/ck2").awaitTermination()
    }
    def causeChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(causeChain(ex).exists(c =>
      c.getMessage != null && c.getMessage.contains("lineage")))
    assert(state() === Set(
      (1L, 3L, 42L, 2L, 30L), (2L, 2L, -2L, -7L, 5L),
      (3L, 1L, 0L, 0L, 0L), (4L, 1L, 8L, 8L, 8L)))
  }

  test("maintainCounts: null-safe keyed addition equals the direct histogram across batches") {
    import graft.sync.ParquetStore
    val rows = Seq(Some("a"), Some("a"), None, Some("b"), None, Some("a"))
      .toDF("k")
    val tmp = Files.createTempDirectory("graft_mc").toString
    // split so 'a' and NULL straddle the batch boundary — the null-safe
    // merge join is load-bearing, not decorative
    rows.limit(3).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    rows.offset(3).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    val stream = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.maintainCounts(stream, "k",
      store, "counts", checkpointDir = s"$tmp/ck").awaitTermination()
    val got = store.read("counts").get.select($"k", $"n").collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(got === Map(Some("a") -> 3L, Some("b") -> 1L, None -> 2L))
  }

  test("preferenceIngest: cross-batch best/worst merge equals the batch miner, ties to lowest id") {
    import graft.sync.ParquetStore
    import graft.operators.Preference
    val cols = Seq("prompt_id", "completion_id", "completion", "score")
    // prompt 1's best TIES across the batch boundary (9.0 in each batch,
    // the LOWER id arriving LATER — the merge must replace the state's
    // incumbent); its worst arrives in batch 2; prompt 2 is all-tie and
    // must yield no pair from the state
    val b1 = Seq((1L, 12L, "best-late", 9.0), (1L, 11L, "mid", 5.0),
      (2L, 20L, "x", 3.0)).toDF(cols: _*)
    val b2 = Seq((1L, 10L, "best-early", 9.0), (1L, 13L, "worst", 1.0),
      (2L, 21L, "y", 3.0)).toDF(cols: _*)
    val tmp = Files.createTempDirectory("graft_pref").toString
    b1.coalesce(1).write.mode("append").parquet(s"$tmp/src")
    b2.coalesce(1).write.mode("append").parquet(s"$tmp/src")
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.preferenceIngest(stream, "prompt_id",
      "completion_id", "completion", "score",
      store, "prefs", checkpointDir = s"$tmp/ck").awaitTermination()
    // state is |prompts|-sized: both prompts present, rollouts not retained
    assert(store.read("prefs").get.count() === 2)
    val derived = Preference.pairsFromCandidates(
      store.read("prefs").get, "prompt_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4),
        r.getDouble(7), r.getLong(8)))
    assert(derived === Array((1L, 10L, 13L, 8.0, 4L)))
    // ... and is row-identical to the batch miner over all arrivals
    val batch = Preference.pairs(b1.union(b2), "prompt_id",
      "completion_id", "completion", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4),
        r.getDouble(7), r.getLong(8)))
    assert(derived === batch)
    // state-column collisions fail loud before any stream starts
    for (bad <- Seq("ch", "rj", "n_rollouts", "__k")) {
      val e = intercept[IllegalArgumentException] {
        IncrementalStream.preferenceIngest(b1.withColumnRenamed("prompt_id", bad),
          bad, "completion_id", "completion", "score",
          store, "prefs2", checkpointDir = s"$tmp/ck_unused")
      }
      assert(e.getMessage.contains("prompt column"))
    }
  }

  test("scd2Ingest: streamed delta log equals the batch history; multi-version batches fold in order") {
    import graft.sync.{History, ParquetStore}
    val tmp = Files.createTempDirectory("graft_scd2i").toString
    val store = new ParquetStore(spark, s"$tmp/state")
    // batch 0 carries TWO versions in one file (coalesced pulls); batch 1
    // continues the same lineage against the persisted history
    val log1 = Seq((1L, 10L, 1L), (2L, 20L, 1L), (1L, 11L, 2L)).toDF("id", "v", "ver")
    val log2 = Seq((2L, 21L, 3L), (3L, 30L, 3L)).toDF("id", "v", "ver")
    def ingest(log: org.apache.spark.sql.DataFrame): Unit = {
      log.repartition(1).write.mode("append").parquet(s"$tmp/src")
      IncrementalStream.scd2Ingest(
        spark.readStream.schema(log.schema).parquet(s"$tmp/src/*.parquet"),
        store, "h", Seq("id"), Seq("v"), "ver", s"$tmp/ck").awaitTermination()
    }
    ingest(log1)
    ingest(log2)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Option[Long])] =
      df.select($"id", $"v", $"valid_from", $"valid_to").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    val got = rowsOf(store.read("h").get.drop("__last_batch", "__run"))
    val want = rowsOf(
      History.scd2ApplyUpserts(
        History.scd2ApplyUpserts(
          History.scd2Init(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), 1L),
          Seq((1L, 11L)).toDF("id", "v"), Seq("id"), Seq("v"), 2L),
        Seq((2L, 21L), (3L, 30L)).toDF("id", "v"), Seq("id"), Seq("v"), 3L))
    assert(got === want)
    // collision contracts fail fast, before any checkpoint exists
    intercept[IllegalArgumentException] {
      IncrementalStream.scd2Ingest(log1, store, "h2", Seq("id"), Seq("ver"),
        "ver", s"$tmp/ck2")
    }
    intercept[IllegalArgumentException] {
      IncrementalStream.scd2Ingest(log1.withColumnRenamed("v", "valid_from"),
        store, "h2", Seq("id"), Seq("valid_from"), "ver", s"$tmp/ck2")
    }
    // a non-integral verCol fails LOUDLY up front: the version fold
    // collects through cast(long), so a double 2.5 would silently merge
    // (or drop) pulls instead of erroring — stamp integer sequences
    intercept[IllegalArgumentException] {
      IncrementalStream.scd2Ingest(
        log1.withColumn("ver", $"ver".cast("double")),
        store, "h2", Seq("id"), Seq("v"), "ver", s"$tmp/ck2")
    }
  }

  test("scd2Ingest CDC: delete events close intervals; delete-then-readd leaves the gap visible") {
    import graft.sync.{History, ParquetStore}
    val tmp = Files.createTempDirectory("graft_scd2cdc").toString
    val store = new ParquetStore(spark, s"$tmp/state")
    // one batch, three versions: insert k1/k2 at 1; delete k1 at 2;
    // re-add k1 at 3 (the gap between 2 and 3 must stay visible). k3
    // arrives with a NULL op — the stamp-only-deletes CDC shape — and
    // MUST upsert, not vanish into three-valued logic
    val log = Seq(
      (1L, Some(10L), 1L, Some("u")), (2L, Some(20L), 1L, Some("u")),
      (1L, None, 2L, Some("d")),
      (3L, Some(30L), 2L, Option.empty[String]),
      (1L, Some(12L), 3L, Some("u"))).toDF("id", "v", "ver", "op")
    log.repartition(1).write.parquet(s"$tmp/src")
    IncrementalStream.scd2Ingest(
      spark.readStream.schema(log.schema).parquet(s"$tmp/src/*.parquet"),
      store, "h", Seq("id"), Seq("v"), "ver", s"$tmp/ck",
      opCol = Some("op")).awaitTermination()
    val got = store.read("h").get.drop("__last_batch", "__run")
      .select($"id", $"v", $"valid_from", $"valid_to").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(got === Set(
      (1L, Some(10L), 1L, Some(2L)),   // closed by the delete
      (1L, Some(12L), 3L, None),       // reappearance opens a fresh interval
      (2L, Some(20L), 1L, None),
      (3L, Some(30L), 2L, None)))      // NULL-op row upserted
    // asOf inside the gap: k1 absent, k2/k3 present
    val at2 = History.asOf(store.read("h").get.drop("__last_batch", "__run"), 2L)
      .select($"id").collect().map(_.getLong(0)).toSeq.sorted
    assert(at2 === Seq(2L, 3L))
    // reserved stamp names fail fast
    intercept[IllegalArgumentException] {
      IncrementalStream.scd2Ingest(log.withColumnRenamed("v", "__run"),
        store, "h3", Seq("id"), Seq("__run"), "ver", s"$tmp/ck3")
    }
  }

  test("property: streamed CDC ingest equals the batch full-snapshot fold, any round split") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.sync.{History, ParquetStore}
    // random snapshot sequences over a small key/value space (the
    // HistorySpec generator), re-expressed as CDC event logs (inserts,
    // changes, explicit deletes) and split at a random version boundary
    // into two lineage-continuous ingest rounds — the maintained
    // history must equal the batch scd2Apply chain for EVERY shape:
    // delete-then-readd, same-version multi-key, empty versions,
    // rounds carrying several versions, empty rounds
    val snapGen = Gen.mapOf(Gen.zip(Gen.choose(1L, 6L), Gen.choose(0L, 2L)))
    val caseGen = for {
      n <- Gen.choose(2, 4)
      snaps <- Gen.listOfN(n, snapGen)
      cut <- Gen.choose(1, n - 1)
    } yield (snaps, cut)
    val prop = Prop.forAll(caseGen) { case (snaps, cut) =>
      def events(i: Int): Seq[(Long, Option[Long], Long, String)] =
        if (i == 0) snaps.head.toSeq.map { case (k, v) => (k, Some(v), 1L, "u") }
        else {
          val (prev, cur) = (snaps(i - 1), snaps(i))
          cur.toSeq.collect { case (k, v) if !prev.get(k).contains(v) =>
            (k, Some(v), i + 1L, "u") } ++
            (prev.keySet -- cur.keySet).toSeq.map(k =>
              (k, Option.empty[Long], i + 1L, "d"))
        }
      val tmp = Files.createTempDirectory("graft_scd2p").toString
      val store = new ParquetStore(spark, s"$tmp/st")
      def ingest(rows: Seq[(Long, Option[Long], Long, String)]): Unit = {
        val logDf = rows.toDF("id", "v", "ver", "op")
        logDf.repartition(1).write.mode("append").parquet(s"$tmp/src")
        IncrementalStream.scd2Ingest(
          spark.readStream.schema(logDf.schema).parquet(s"$tmp/src/*.parquet"),
          store, "h", Seq("id"), Seq("v"), "ver", s"$tmp/ck",
          opCol = Some("op")).awaitTermination()
      }
      ingest((0 until cut).flatMap(events))
      ingest((cut until snaps.size).flatMap(events))
      def setOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Option[Long])] =
        df.select($"id", $"v", $"valid_from", $"valid_to").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      def df(m: Map[Long, Long]) =
        if (m.isEmpty) Seq.empty[(Long, Long)].toDF("id", "v")
        else m.toSeq.toDF("id", "v")
      val want = snaps.zipWithIndex.drop(1)
        .foldLeft(History.scd2Init(df(snaps.head), 1L)) { case (h, (s, i)) =>
          History.scd2Apply(h, df(s), Seq("id"), Seq("v"), i + 1L)
        }
      setOf(store.read("h").get.drop("__last_batch", "__run")) == setOf(want)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("maintainCountsKeys rejects key names that collide with merge internals") {
    import graft.sync.ParquetStore
    val rows = Seq(("a", "b")).toDF("n", "__k_x")
    val store = new ParquetStore(spark, "/tmp/unused_mck")
    // the require fires before any streaming machinery, so a batch frame
    // is enough to pin the contract
    for (keys <- Seq(Seq("n"), Seq("__k_x"), Seq("k", "n"))) {
      val e = intercept[IllegalArgumentException] {
        IncrementalStream.maintainCountsKeys(rows, keys, store, "t", "/tmp/ck_unused")
      }
      assert(e.getMessage.contains("maintainCountsKeys"), e.getMessage)
    }
  }

  test("maintainDistinct: small-cardinality estimates are exact; resume folds only the new batch") {
    import graft.sync.ParquetStore
    import org.apache.spark.sql.functions.hll_sketch_estimate
    // small cardinalities keep HLL in sparse (exact) mode, so the
    // maintained estimates are checkable as exact integers here; the
    // sf0.1 accuracy/invariance contract is q139's
    val rows = Seq((1L, 10L), (1L, 11L), (1L, 10L), (2L, 5L), (2L, 6L))
      .toDF("k", "u")
    val tmp = Files.createTempDirectory("graft_md").toString
    rows.filter($"u" >= 10L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    rows.filter($"u" < 10L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.maintainDistinct(stream(), Seq("k"), "u",
      store, "d", checkpointDir = s"$tmp/ck").awaitTermination()
    def est() = store.read("d").get
      .select($"k", hll_sketch_estimate($"hll").as("e")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est() === Map(1L -> 2L, 2L -> 2L)) // dup u=10 counted once
    // resume: one new file with a repeat (no-op on the count) + a new value
    Seq((1L, 10L), (2L, 7L)).toDF("k", "u")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    IncrementalStream.maintainDistinct(stream(), Seq("k"), "u",
      store, "d", checkpointDir = s"$tmp/ck").awaitTermination()
    assert(est() === Map(1L -> 2L, 2L -> 3L))
  }

  test("spanScrubGate: streamed scrub equals the batch scrub across an arrival split") {
    import graft.sync.ParquetStore
    import graft.dedup.Decontaminate
    val bench = Seq((0L, "one two three four five")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "zero one two three four five six seven"), // middle span covered
      (11L, "nothing shared here at all"),             // clean
      (12L, "one two three"))                          // shorter than n -> clean
      .toDF("doc_id", "text")
    val n = 5
    val tmp = Files.createTempDirectory("graft_ssg").toString
    docs.filter($"doc_id" <= 10L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    docs.filter($"doc_id" > 10L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.spanScrubGate(stream(), bench, "doc_id", "text",
      store, "clean", checkpointDir = s"$tmp/ck", n = n).awaitTermination()
    def served() = store.read("clean").get
      .select($"doc_id", $"clean_tokens").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    val batch = Decontaminate.scrubSpans(docs, bench, "doc_id", "text", n).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    assert(served() === batch)
    assert(served()(10L) === Seq("zero", "six", "seven"))
    assert(served()(11L) === Seq("nothing", "shared", "here", "at", "all"))
    assert(served()(12L) === Seq("one", "two", "three"))
    // fresh checkpoint over the same source: the cross-lineage guard finds
    // every doc already scrubbed — nothing re-appends
    IncrementalStream.spanScrubGate(stream(), bench, "doc_id", "text",
      store, "clean", checkpointDir = s"$tmp/ck2", n = n).awaitTermination()
    assert(store.read("clean").get.count() === 3)
  }

  test("encodeGate: streamed ids equal the batch encode; vocab pinned at query start") {
    import graft.sync.ParquetStore
    import graft.text.Vocab
    val docs = Seq((1L, "the cat and the dog"), (2L, "the cat"), (3L, "zebra"))
      .toDF("doc_id", "text")
    val vocab = Vocab.build(docs, "text", topN = 4)
    val tmp = Files.createTempDirectory("graft_enc").toString
    docs.filter($"doc_id" <= 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    docs.filter($"doc_id" > 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.encodeGate(stream(), vocab, "doc_id", "text",
      store, "encoded", checkpointDir = s"$tmp/ck").awaitTermination()
    def served() = store.read("encoded").get
      .select($"doc_id", $"ids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val batch = Vocab.encode(docs, "doc_id", "text", vocab).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(served() === batch)
    // fresh checkpoint over the same arrivals: cross-lineage guard finds
    // every doc already encoded — nothing re-appends
    IncrementalStream.encodeGate(stream(), vocab, "doc_id", "text",
      store, "encoded", checkpointDir = s"$tmp/ck2").awaitTermination()
    assert(store.read("encoded").get.count() === batch.size)
  }

  test("expectationsGate: per-batch DQ reports accumulate; empty checks fail at start") {
    import graft.sync.ParquetStore
    import graft.operators.Expectations
    val docs = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 10L), (2L, -5L), (3L, 7L), (4L, null)).toDF("id", "v")
    val checks = Seq("v_not_null" -> $"v".isNotNull, "v_positive" -> ($"v" > 0))
    val tmp = Files.createTempDirectory("graft_dq").toString
    docs.filter($"id" <= 2L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    docs.filter($"id" > 2L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.expectationsGate(stream(), checks,
      store, "dq", checkpointDir = s"$tmp/ck").awaitTermination()
    val log = store.read("dq").get
      .select($"check_name", $"n_rows", $"n_violations", $"pass").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._3)).toSeq
    // one row per (check, batch): batch {1,2} has one negative v; batch
    // {3,4} has one NULL v (fails both checks)
    assert(log === Seq(
      ("v_not_null", 2L, 0L, 1L), ("v_not_null", 2L, 1L, 0L),
      ("v_positive", 2L, 1L, 0L), ("v_positive", 2L, 1L, 0L)))
    // a FRESH monitoring lineage over the same source logs its OWN
    // observations — the time series accumulates, it is never blocked by
    // prior lineages' same-named rows (unlike the id-keyed gates)
    IncrementalStream.expectationsGate(stream(), checks,
      store, "dq", checkpointDir = s"$tmp/ck2").awaitTermination()
    assert(store.read("dq").get.count() === 8)
    // ...while a RETRY within a lineage appends nothing new
    IncrementalStream.expectationsGate(stream(), checks,
      store, "dq", checkpointDir = s"$tmp/ck").awaitTermination()
    assert(store.read("dq").get.count() === 8)
    intercept[IllegalArgumentException] {
      IncrementalStream.expectationsGate(stream(), Seq.empty,
        store, "dq2", checkpointDir = s"$tmp/ck2b")
    }
  }

  test("classifierGate: streamed scores equal the batch scorer; bad weight table fails at start") {
    import graft.sync.ParquetStore
    import graft.text.Classifier
    val docs = Seq((1L, "good great fine good", 1L), (2L, "bad awful bad poor", -1L),
        (3L, "good fine nice", 1L), (4L, "poor bad sad awful", -1L))
      .toDF("doc_id", "text", "y")
    val feats = Classifier.hashedTokenFeatures(docs, "doc_id", "text", 32)
    val df = Classifier.docFeatures(feats, docs.select($"doc_id", $"y"), "doc_id")
    val model = Classifier.train(df, "doc_id", 32, rounds = 2,
      lrMicros = 1000L, marginMicros = 1000000L)
    val weights = Classifier.weightsTable(spark, model)
    val tmp = Files.createTempDirectory("graft_clf").toString
    docs.filter($"doc_id" <= 2L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    docs.filter($"doc_id" > 2L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.classifierGate(stream(), weights, "doc_id", "text",
      store, "scored", checkpointDir = s"$tmp/ck").awaitTermination()
    def served() = store.read("scored").get
      .select($"doc_id", $"margin_micros", $"pred").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the one-pass text scorer AND the feature-table scorer agree with
    // the gate (the linearity identity, both directions)
    val viaText = Classifier.scoreText(docs, "doc_id", "text", model).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val viaFeats = Classifier.score(df, "doc_id", model).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(served() === viaText)
    assert(served() === viaFeats)
    // cross-lineage replay appends nothing
    IncrementalStream.classifierGate(stream(), weights, "doc_id", "text",
      store, "scored", checkpointDir = s"$tmp/ck2").awaitTermination()
    assert(store.read("scored").get.count() === 4)
    // a bias-less weight table fails at query start, before any batch
    intercept[IllegalArgumentException] {
      IncrementalStream.classifierGate(stream(),
        weights.filter($"f" >= 0L), "doc_id", "text",
        store, "scored2", checkpointDir = s"$tmp/ck3")
    }
  }

  test("unigramGate: streamed pieces equal the batch Viterbi; empty piece table fails at start") {
    import graft.sync.ParquetStore
    import graft.text.Unigram
    val docs = Seq((1L, "the then an"), (2L, "than the")).toDF("doc_id", "text")
    val pieces = Seq(("t", -3000L), ("h", -4000L), ("e", -4000L),
      ("a", -3500L), ("n", -3800L), ("th", -7000L), ("the", -11000L),
      ("an", -7300L)).map(p => Unigram.UnigramPiece(p._1, 0L, p._2))
    val pieceTable = spark.createDataFrame(pieces)
      .select($"piece", $"cnt", $"scoreMilli".as("score_milli"))
    val tmp = Files.createTempDirectory("graft_ug").toString
    docs.filter($"doc_id" <= 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    docs.filter($"doc_id" > 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.unigramGate(stream(), pieceTable, "doc_id", "text",
      store, "pieces", checkpointDir = s"$tmp/ck").awaitTermination()
    val served = store.read("pieces").get
      .select($"doc_id", $"pieces").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val batch = docs.select($"doc_id",
        Unigram.unigramEncode($"text", pieces).as("pieces")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(served === batch)
    // "then" ties [the,n] vs [th,e,n] -> longer-piece rule keeps "the"
    assert(served(1L) === Seq("the", "the", "n", "an"))
    // an empty artifact fails at query start
    intercept[IllegalArgumentException] {
      IncrementalStream.unigramGate(stream(), pieceTable.filter($"cnt" > 99L),
        "doc_id", "text", store, "pieces2", checkpointDir = s"$tmp/ck2")
    }
  }

  test("encodeGateJoin: large-vocab gate equals the batch encode; bad vocab fails at start") {
    import graft.sync.ParquetStore
    import graft.text.Vocab
    val docs = Seq((1L, "the cat and the dog"), (2L, "the cat"), (3L, "zebra"))
      .toDF("doc_id", "text")
    val vocab = Vocab.build(docs, "text", topN = 4)
    val tmp = Files.createTempDirectory("graft_encj").toString
    docs.filter($"doc_id" <= 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    docs.filter($"doc_id" > 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.encodeGateJoin(stream(), vocab, "doc_id", "text",
      store, "encoded", checkpointDir = s"$tmp/ck").awaitTermination()
    val served = store.read("encoded").get
      .select($"doc_id", $"ids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val batch = Vocab.encode(docs, "doc_id", "text", vocab).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(served === batch)
    // validation happens at query START, before any stream machinery
    intercept[IllegalArgumentException] {
      IncrementalStream.encodeGateJoin(stream(),
        Seq(("x", 0L)).toDF("token", "token_id"), "doc_id", "text",
        store, "encoded2", checkpointDir = s"$tmp/ck2")
    }
  }

  test("overlapGate: arrival-corpus pairs equal the batch cross-half overlap; replay-safe") {
    import graft.sync.ParquetStore
    import graft.text.Winnow
    val shared = "sigma tau upsilon phi chi psi omega kappa lambda"
    val corpus = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon zeta"),
      (2L, "fully unique corpus document with no shared content at all"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, s"omicron pi rho $shared nu xi iota"), // overlaps corpus doc 1
      (11L, "another entirely unrelated arrival about different things"))
      .toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("graft_og").toString
    val idx = Winnow.buildOverlapIndex(corpus, "doc_id", "text")
    arrivals.filter($"doc_id" === 10L).coalesce(1)
      .write.mode("append").parquet(s"$tmp/src")
    arrivals.filter($"doc_id" === 11L).coalesce(1)
      .write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(arrivals.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.overlapGate(stream(), idx, "doc_id", "text",
      store, "pairs", checkpointDir = s"$tmp/ck").awaitTermination()
    def pairs() = store.read("pairs").get
      .select($"id_a", $"id_b", $"n_shared").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs().map(p => (p._1, p._2)).toSet === Set((10L, 1L)))
    assert(pairs().head._3 >= 2L)
    // fresh checkpoint over the same arrivals: nothing re-appends
    IncrementalStream.overlapGate(stream(), idx, "doc_id", "text",
      store, "pairs", checkpointDir = s"$tmp/ck2").awaitTermination()
    assert(store.read("pairs").get.count() === 1)
  }

  test("bm25Serve: streamed retrieval equals the batch join; cross-lineage replay appends nothing") {
    import graft.sync.ParquetStore
    import graft.text.TfIdf
    val docs = Seq(
      (1L, "the rare cat"), (2L, "the cat cat"), (3L, "the dog"),
      (4L, "dog and cat together")).toDF("doc_id", "text")
    val idx = TfIdf.buildBm25Index(docs, "doc_id", "text", corpusSize = 4)
    val queries = Seq(("qa", "cat"), ("qb", "dog"), ("qc", "rare dog"))
    val tmp = Files.createTempDirectory("graft_bm25s").toString
    // two arrival files -> two micro-batches splitting the query set
    queries.take(1).toDF("query_id", "qtext")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    queries.drop(1).toDF("query_id", "qtext")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream
      .schema(queries.toDF("query_id", "qtext").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.bm25Serve(stream(), idx, "doc_id", k = 2,
      store, "served", checkpointDir = s"$tmp/ck").awaitTermination()
    def served() = store.read("served").get
      .select($"query_id", $"rank", $"doc_id", $"n_terms", $"score").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val batch = TfIdf.bm25TopKIndexed(idx, "doc_id", queries, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(served() === batch) // bit-exact, score included: same index, same fold
    assert(served().count(_._1 == "qa") === 2)
    // fresh checkpoint over the same arrivals: the cross-lineage guard
    // finds every (query, doc) pair already served — nothing re-appends
    IncrementalStream.bm25Serve(stream(), idx, "doc_id", k = 2,
      store, "served", checkpointDir = s"$tmp/ck2").awaitTermination()
    assert(store.read("served").get.count() === batch.size)
  }

  test("guarded appends keep the batch's column order in every data file") {
    import graft.sync.ParquetStore
    import graft.text.TfIdf
    val docs = Seq((1L, "the cat"), (2L, "the dog")).toDF("doc_id", "text")
    val idx = TfIdf.buildBm25Index(docs, "doc_id", "text", corpusSize = 2)
    val tmp = Files.createTempDirectory("graft_gorder").toString
    // two arrival files -> two guarded appends to one table; the second
    // anti-joins the first on (query_id, doc_id)
    Seq(("qa", "cat")).toDF("query_id", "qtext").write.mode("append").parquet(s"$tmp/src")
    Seq(("qb", "dog")).toDF("query_id", "qtext").write.mode("append").parquet(s"$tmp/src")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.bm25Serve(spark.readStream
        .schema("query_id STRING, qtext STRING")
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet"),
      idx, "doc_id", k = 1, store, "served", checkpointDir = s"$tmp/ck")
      .awaitTermination()
    val order = Seq("query_id", "rank", "doc_id", "n_terms", "score", "__run", "__batch")
    val files = new java.io.File(s"$tmp/out/served.parquet").listFiles()
      .map(_.getName).filter(_.startsWith("part-")).sorted
    assert(files.length >= 2)
    // each file's footer schema, read on its own
    files.foreach(f =>
      assert(spark.read.parquet(s"$tmp/out/served.parquet/$f").columns.toSeq === order, f))
    assert(store.read("served").get.columns.toSeq === order)
  }

  test("packedDupIngest: probe-then-append pair log equals the batch miner; replay-safe") {
    import graft.dedup.Dedup
    import graft.sync.ParquetStore
    // sigs chosen so pairs land BOTH within one batch (1,2 in batch A)
    // and across batches (0 in A pairs with 4 in B); 3 pairs nothing
    val media = Seq(
      (0L, 0x0000000000000000L), (1L, 0x00000000000000f0L),
      (2L, 0x00000000000000f3L),                    // batch A: 1-2 intra (h 2)
      (3L, 0x5555555555555555L), (4L, 0x0000000000000001L)) // B: 4-0 cross (h 1)
      .toDF("doc_id", "sig")
    val fp: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      b => b.select($"doc_id", $"sig")
    val tmp = Files.createTempDirectory("graft_pdi").toString
    media.filter($"doc_id" <= 2L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    media.filter($"doc_id" > 2L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(media.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.packedDupIngest(stream(), fp, "doc_id", "sig",
      maxHamming = 3, store = store, checkpointDir = s"$tmp/ck")
      .awaitTermination()
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(least($"id_a", $"id_b"), greatest($"id_a", $"id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = norm(Dedup.packedNearDups(media, "doc_id", "sig", 3))
    assert(batchPairs === Set((1L, 2L), (0L, 4L))) // the construction holds
    assert(norm(store.read("dup_pairs").get) === batchPairs)
    // the log lands canonical: (min, max), never the arrival direction
    assert(store.read("dup_pairs").get.filter($"id_a" > $"id_b").count() === 0L)
    // the persisted index is the full fingerprint table
    assert(store.read("fingerprints").get.count() === 5L)
    // fresh checkpoint over the same source: cross-lineage guard holds
    val p0 = store.read("dup_pairs").get.count()
    IncrementalStream.packedDupIngest(stream(), fp, "doc_id", "sig",
      maxHamming = 3, store = store, checkpointDir = s"$tmp/ck2")
      .awaitTermination()
    assert(store.read("dup_pairs").get.count() === p0)
    assert(store.read("fingerprints").get.count() === 5L)
  }

  test("packedDupIngest: a crash between the pair and sig appends self-heals on retry") {
    import graft.dedup.Dedup
    import graft.sync.ParquetStore
    val media = Seq(
      (0L, 0x0000000000000000L), (1L, 0x00000000000000f0L),
      (2L, 0x00000000000000f3L),
      (3L, 0x5555555555555555L), (4L, 0x0000000000000001L))
      .toDF("doc_id", "sig")
    val fp: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      b => b.select($"doc_id", $"sig")
    val tmp = Files.createTempDirectory("graft_pdiheal").toString
    media.filter($"doc_id" <= 2L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    media.filter($"doc_id" > 2L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(media.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.packedDupIngest(stream(), fp, "doc_id", "sig",
      maxHamming = 3, store = store, checkpointDir = s"$tmp/ck")
      .awaitTermination()
    // CRASH SIMULATION (the scaladoc's window): batch 1's pair append
    // landed but its SIG append and checkpoint commit did not — drop the
    // batch-1 sig rows AND its pair row, delete commits/1, restart
    val sigs = store.read("fingerprints").get
    store.write(sigs.filter(!($"__batch" === 1L)), "fingerprints")
    val pairLog = store.read("dup_pairs").get
    store.write(pairLog.filter(!($"__batch" === 1L)), "dup_pairs")
    assert(new java.io.File(s"$tmp/ck/commits/1").delete())
    new java.io.File(s"$tmp/ck/commits/.1.crc").delete()
    IncrementalStream.packedDupIngest(stream(), fp, "doc_id", "sig",
      maxHamming = 3, store = store, checkpointDir = s"$tmp/ck")
      .awaitTermination()
    // converged: every pair exactly once, every sig exactly once
    val pairs = store.read("dup_pairs").get
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(pairs === Seq((0L, 4L), (1L, 2L)))
    assert(store.read("fingerprints").get.count() === 5L)
    assert(store.read("fingerprints").get.select($"doc_id").distinct().count() === 5L)
  }

  test("bpeGate: streamed pieces equal the batch replay; bad artifacts fail at start") {
    import graft.sync.ParquetStore
    import graft.text.TextAnalysis
    val docs = Seq((1L, "the tail"), (2L, "plain the")).toDF("doc_id", "text")
    val merges = Seq((0, "t", "h"), (1, "th", "e"), (2, "a", "i"))
      .toDF("step", "left", "right")
    val tmp = Files.createTempDirectory("graft_bg").toString
    docs.filter($"doc_id" <= 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    docs.filter($"doc_id" > 1L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*.parquet")
    val store = new ParquetStore(spark, s"$tmp/out")
    IncrementalStream.bpeGate(stream(), merges, "doc_id", "text",
      store, "pieces", checkpointDir = s"$tmp/ck").awaitTermination()
    val served = store.read("pieces").get
      .select($"doc_id", $"pieces").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val ms = Seq(TextAnalysis.BpeMerge(0, "t", "h", 0L),
      TextAnalysis.BpeMerge(1, "th", "e", 0L), TextAnalysis.BpeMerge(2, "a", "i", 0L))
    val batch = docs.select($"doc_id",
        TextAnalysis.byteBpeEncode($"text", ms).as("pieces")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(served === batch)
    assert(served(1L) === Seq("the", "t", "ai", "l"))
    // empty and duplicate-step artifacts fail BEFORE the query starts
    intercept[IllegalArgumentException] {
      IncrementalStream.bpeGate(stream(), merges.limit(0), "doc_id", "text",
        store, "p2", checkpointDir = s"$tmp/ck2")
    }
    intercept[IllegalArgumentException] {
      IncrementalStream.bpeGate(stream(),
        merges.union(merges.limit(1)), "doc_id", "text",
        store, "p3", checkpointDir = s"$tmp/ck3")
    }
  }
}
