package graft.cli

import graft.SparkSpec

import java.nio.file.Files

class MainSpec extends SparkSpec {
  import spark.implicits._

  test("db-sync end to end from YAML config; exit 0") {
    val srcDir = Files.createTempDirectory("graft_cli_src").toString
    val dstDir = Files.createTempDirectory("graft_cli_dst").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$srcDir/t.parquet")
    val cfgPath = Files.createTempFile("graft_cli", ".yaml")
    Files.writeString(cfgPath,
      "tables:\n  t:\n    sync_config:\n      check_column: id\n      check_type: id\n")
    val code = Main.run(spark, Array("db-sync",
      "--config", cfgPath.toString, "--source", srcDir, "--dest", dstDir,
      "--pks", "t=id"))
    assert(code === 0)
    assert(spark.read.parquet(s"$dstDir/t.parquet").count() === 2)
  }

  test("db-sync missing source table -> exit 1 (error isolation)") {
    val dstDir = Files.createTempDirectory("graft_cli_dst2").toString
    val cfgPath = Files.createTempFile("graft_cli2", ".yaml")
    Files.writeString(cfgPath, "tables:\n  missing:\n")
    val code = Main.run(spark, Array("db-sync",
      "--config", cfgPath.toString,
      "--source", Files.createTempDirectory("graft_cli_empty").toString,
      "--dest", dstDir))
    assert(code === 1)
  }

  test("file-sync defaults to dry run; --apply copies") {
    val src = Files.createTempDirectory("graft_cli_fs_src")
    val dst = Files.createTempDirectory("graft_cli_fs_dst")
    Files.writeString(src.resolve("f.txt"), "x")
    assert(Main.run(spark, Array("file-sync", src.toString, dst.toString)) === 0)
    assert(!Files.exists(dst.resolve("f.txt")))
    assert(Main.run(spark, Array("file-sync", src.toString, dst.toString, "--apply")) === 0)
    assert(Files.readString(dst.resolve("f.txt")) === "x")
  }

  test("unknown command -> usage, exit 2") {
    assert(Main.run(spark, Array("bogus")) === 2)
  }

  test("streaming subcommands: missing required options -> exit 2, never start Spark jobs") {
    assert(Main.run(spark, Array("stream-sync", "--source", "/x")) === 2)
    assert(Main.run(spark, Array("serve-knn", "--queries", "/x", "--k", "nope")) === 2)
    assert(Main.run(spark, Array("maintain-stats", "--keys", "a,b")) === 2)
    assert(Main.run(spark, Array("maintain-distinct", "--keys", "a,b")) === 2)
  }

  test("maintain-distinct end to end: estimates exact at small cardinality") {
    import org.apache.spark.sql.functions.hll_sketch_estimate
    val tmp = Files.createTempDirectory("graft_cli_md").toString
    Seq((1L, 10L), (1L, 10L), (1L, 11L), (2L, 5L)).toDF("k", "u")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    assert(Main.run(spark, Array("maintain-distinct",
      "--source", s"$tmp/src", "--keys", "k", "--value", "u",
      "--dest", s"$tmp/dst", "--table", "d", "--checkpoint", s"$tmp/ck")) === 0)
    val est = new graft.sync.ParquetStore(spark, s"$tmp/dst").read("d").get
      .select($"k", hll_sketch_estimate($"hll").as("e")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est === Map(1L -> 2L, 2L -> 1L))
  }

  test("streaming subcommands exit 0 on an empty/missing source (first cron tick)") {
    val tmp = Files.createTempDirectory("graft_cli_empty").toString
    assert(Main.run(spark, Array("stream-sync",
      "--source", s"$tmp/never_written", "--dest", s"$tmp/dst", "--table", "t",
      "--pks", "k", "--order", "ts", "--checkpoint", s"$tmp/ck")) === 0)
    assert(Main.run(spark, Array("maintain-stats",
      "--source", s"$tmp/never_written", "--keys", "k", "--value", "v",
      "--dest", s"$tmp/dst", "--table", "stats", "--checkpoint", s"$tmp/ck2")) === 0)
  }

  test("stream-sync end to end: incremental across two invocations, same checkpoint") {
    val tmp = Files.createTempDirectory("graft_cli_ss").toString
    Seq((1L, 10L, "a"), (2L, 5L, "b")).toDF("k", "ts", "v")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    def runOnce() = Main.run(spark, Array("stream-sync",
      "--source", s"$tmp/src", "--dest", s"$tmp/dst", "--table", "t",
      "--pks", "k", "--order", "ts", "--checkpoint", s"$tmp/ck"))
    assert(runOnce() === 0)
    val store = new graft.sync.ParquetStore(spark, s"$tmp/dst")
    assert(store.read("t").get.count() === 2)
    // second invocation: a stale row for k=1 and a new key — upsertIfNewer
    // keeps the fresher destination row, checkpoint skips the old file
    Seq((1L, 1L, "stale"), (3L, 7L, "c")).toDF("k", "ts", "v")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    assert(runOnce() === 0)
    val out = store.read("t").get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out === Set((1L, 10L, "a"), (2L, 5L, "b"), (3L, 7L, "c")))
  }

  test("serve-knn end to end: accumulated log equals the batch join") {
    val tmp = Files.createTempDirectory("graft_cli_sk").toString
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (3L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    corpus.write.parquet(s"$tmp/corpus")
    corpus.filter($"vec_id" <= 2).coalesce(1).write.mode("append").parquet(s"$tmp/queries")
    val code = Main.run(spark, Array("serve-knn",
      "--queries", s"$tmp/queries", "--corpus", s"$tmp/corpus",
      "--id", "vec_id", "--vec", "embedding", "--k", "2",
      "--dest", s"$tmp/dst", "--table", "served", "--checkpoint", s"$tmp/ck"))
    assert(code === 0)
    val got = new graft.sync.ParquetStore(spark, s"$tmp/dst").read("served").get
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.similarity.Similarity
      .knnJoin(corpus.filter($"vec_id" <= 2), corpus, "vec_id", "embedding", 2)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("serve-mmr end to end: accumulated re-rank equals the batch operator") {
    val tmp = Files.createTempDirectory("graft_cli_mmr").toString
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),       // queries
      (10L, Array(1f, 0.05f)), (11L, Array(1f, 0.06f)),
      (12L, Array(1f, -0.5f)), (13L, Array(0.1f, 1f)))
      .toDF("vec_id", "embedding")
    emb.write.parquet(s"$tmp/corpus")
    val queries = emb.filter($"vec_id" <= 2L)
    queries.filter($"vec_id" === 1L).coalesce(1).write.mode("append").parquet(s"$tmp/q")
    queries.filter($"vec_id" === 2L).coalesce(1).write.mode("append").parquet(s"$tmp/q")
    assert(Main.run(spark, Array("serve-mmr",
      "--queries", s"$tmp/q", "--corpus", s"$tmp/corpus",
      "--id", "vec_id", "--vec", "embedding", "--k", "3",
      "--shortlist", "4", "--lambda", "500",
      "--dest", s"$tmp/out", "--table", "served",
      "--checkpoint", s"$tmp/ck")) === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"query_id", $"mmr_rank", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = rows(graft.similarity.Similarity.mmrRerank(
      queries, emb, "vec_id", "embedding", k = 3, shortlist = 4,
      lambdaPermille = 500))
    assert(rows(spark.read.parquet(s"$tmp/out/served.parquet")) === want)
    // a shortlist under k is a usage error, caught before Spark runs
    assert(Main.run(spark, Array("serve-mmr",
      "--queries", s"$tmp/q", "--corpus", s"$tmp/corpus",
      "--id", "vec_id", "--vec", "embedding", "--k", "5",
      "--shortlist", "3", "--lambda", "500",
      "--dest", s"$tmp/x", "--table", "served",
      "--checkpoint", s"$tmp/ckx")) === 2)
  }

  test("train-lm + quality-gate end to end: persisted model, streamed verdicts") {
    val tmp = Files.createTempDirectory("graft_cli_qg").toString
    Seq((0L, "a b a b"), (1L, "b c")).toDF("doc_id", "text")
      .write.parquet(s"$tmp/ref")
    assert(Main.run(spark, Array("train-lm",
      "--docs", s"$tmp/ref", "--id", "doc_id", "--text", "text",
      "--out", s"$tmp/lm")) === 0)
    Seq((10L, "a b a b"), (11L, "x y z")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    assert(Main.run(spark, Array("quality-gate",
      "--source", s"$tmp/src", "--model", s"$tmp/lm", "--id", "doc_id",
      "--text", "text", "--dest", s"$tmp/dst", "--table", "verdicts",
      "--checkpoint", s"$tmp/ck")) === 0)
    val out = new graft.sync.ParquetStore(spark, s"$tmp/dst").read("verdicts").get
      .select($"doc_id", $"bucket").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((10L, "head"), (11L, "tail")))
  }

  test("embed-dedup and index-ingest end to end over a vector corpus") {
    val tmp = Files.createTempDirectory("graft_cli_ed").toString
    val corpus = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (3L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    corpus.write.parquet(s"$tmp/corpus")
    Seq((10L, Array(1f, 0f)), (11L, Array(-1f, 0.5f)))
      .toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(s"$tmp/src")
    assert(Main.run(spark, Array("embed-dedup",
      "--source", s"$tmp/src", "--corpus", s"$tmp/corpus", "--id", "vec_id",
      "--vec", "embedding", "--threshold", "0.95", "--dest", s"$tmp/dst",
      "--table", "rejects", "--checkpoint", s"$tmp/ck")) === 0)
    val rejects = new graft.sync.ParquetStore(spark, s"$tmp/dst").read("rejects").get
      .collect().map(_.getLong(0)).toSet
    assert(rejects === Set(10L))
    assert(Main.run(spark, Array("index-ingest",
      "--source", s"$tmp/src", "--corpus", s"$tmp/corpus", "--id", "vec_id",
      "--vec", "embedding", "--centroids", "2", "--dest", s"$tmp/dst2",
      "--table", "assigned", "--checkpoint", s"$tmp/ck2")) === 0)
    val assigned = new graft.sync.ParquetStore(spark, s"$tmp/dst2").read("assigned").get
    assert(assigned.count() === 2)
    assert(assigned.columns.contains("__centroid") && assigned.columns.contains("__cn"))
    // bad VALUES short-circuit before Spark work: full arg sets with only
    // the one invalid value, so the validator itself (not a missing-option
    // check earlier in the for-comprehension) produces the exit 2
    def embedArgs(threshold: String) = Array("embed-dedup",
      "--source", "/x", "--corpus", "/y", "--id", "i", "--vec", "v",
      "--threshold", threshold, "--dest", "/d", "--table", "t", "--checkpoint", "/c")
    assert(Main.run(spark, embedArgs("2.0")) === 2)
    def ingestArgs(centroids: String) = Array("index-ingest",
      "--source", "/x", "--corpus", "/y", "--id", "i", "--vec", "v",
      "--centroids", centroids, "--dest", "/d", "--table", "t", "--checkpoint", "/c")
    assert(Main.run(spark, ingestArgs("0")) === 2)
  }

  test("build-dedup-index + ingest-dedup end to end: persisted index gates arrivals") {
    val tmp = Files.createTempDirectory("graft_cli_dd").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different content about spark engines"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("build-dedup-index",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--ngram", "1", "--hashes", "128", "--bands", "32",
      "--out", s"$tmp/idx")) === 0)
    Seq((10L, "the quick brown fox jumps over the lazy dog"), // dup of 1
        (11L, "entirely novel text about distributed joins"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$tmp/src")
    assert(Main.run(spark, Array("ingest-dedup",
      "--source", s"$tmp/src", "--index", s"$tmp/idx", "--id", "doc_id",
      "--text", "text", "--ngram", "1", "--num", "9", "--den", "10",
      "--hashes", "128", "--bands", "32", "--dest", s"$tmp/dst",
      "--table", "rejects", "--checkpoint", s"$tmp/ck")) === 0)
    val rejects = spark.read.parquet(s"$tmp/dst/rejects.parquet")
      .collect().map(_.getLong(0)).toSeq
    assert(rejects === Seq(10L))
    // invalid values rejected before Spark work — full arg sets so the
    // VALIDATOR (not a missing-option check) produces the exit 2
    def args(ngram: String, num: String, den: String) = Array("ingest-dedup",
      "--source", s"$tmp/src", "--index", s"$tmp/idx", "--id", "doc_id",
      "--text", "text", "--ngram", ngram, "--num", num, "--den", den,
      "--hashes", "128", "--bands", "32", "--dest", s"$tmp/dst2",
      "--table", "rejects", "--checkpoint", s"$tmp/ck_bad")
    assert(Main.run(spark, args("0", "9", "10")) === 2)
    assert(Main.run(spark, args("1", "10", "9")) === 2) // threshold > 1
    // a banding mismatch against the persisted manifest fails fast (a
    // different hash family would silently pass duplicates)
    intercept[IllegalArgumentException] {
      Main.run(spark, Array("ingest-dedup",
        "--source", s"$tmp/src", "--index", s"$tmp/idx", "--id", "doc_id",
        "--text", "text", "--ngram", "1", "--num", "9", "--den", "10",
        "--hashes", "125", "--bands", "25", "--dest", s"$tmp/dst3",
        "--table", "rejects", "--checkpoint", s"$tmp/ck_mm"))
    }
  }

  test("ingest-dedup --tombstones: a tombstoned corpus doc never rejects an arrival") {
    val tmp = Files.createTempDirectory("graft_cli_ddts").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different content about spark engines"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("build-dedup-index",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--ngram", "1", "--hashes", "128", "--bands", "32",
      "--out", s"$tmp/idx")) === 0)
    // the takedown lands on doc 1 — the only doc arrival 10 duplicates
    Seq(Tuple1(1L)).toDF("doc_id").write.parquet(s"$tmp/ids")
    assert(Main.run(spark, Array("tombstone",
      "--store", s"$tmp/idx", "--ids", s"$tmp/ids")) === 0)
    Seq((10L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/src")
    def serve(dest: String, ck: String, extra: String*) = Main.run(spark,
      Array("ingest-dedup",
        "--source", s"$tmp/src", "--index", s"$tmp/idx", "--id", "doc_id",
        "--text", "text", "--ngram", "1", "--num", "9", "--den", "10",
        "--hashes", "128", "--bands", "32", "--dest", dest,
        "--table", "rejects", "--checkpoint", ck) ++ extra)
    // gated: doc 1 is erased, so the twin arrival is NOT rejected
    assert(serve(s"$tmp/dst_ts", s"$tmp/ck_ts", "--tombstones", "true") === 0)
    assert(spark.read.parquet(s"$tmp/dst_ts/rejects.parquet").count() === 0L)
    // ungated: the physical rows still reject it (purge is deferred)
    assert(serve(s"$tmp/dst", s"$tmp/ck") === 0)
    assert(spark.read.parquet(s"$tmp/dst/rejects.parquet")
      .collect().map(_.getLong(0)).toSeq === Seq(10L))
  }

  test("maintain-stats end to end: state equals the direct aggregate") {
    val tmp = Files.createTempDirectory("graft_cli_ms").toString
    Seq((1L, 10L), (1L, 30L), (2L, 5L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    val code = Main.run(spark, Array("maintain-stats",
      "--source", s"$tmp/src", "--keys", "k", "--value", "v",
      "--dest", s"$tmp/dst", "--table", "stats", "--checkpoint", s"$tmp/ck"))
    assert(code === 0)
    val state = new graft.sync.ParquetStore(spark, s"$tmp/dst").read("stats").get
      .drop("__last_batch", "__run").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(state === Set((1L, 2L, 40L, 10L, 30L), (2L, 1L, 5L, 5L, 5L)))
  }

  test("scrub-spans end to end: streamed clean tokens equal the batch scrub") {
    val tmp = Files.createTempDirectory("graft_cli_ss").toString
    Seq((0L, "one two three four five")).toDF("doc_id", "text")
      .write.parquet(s"$tmp/bench")
    Seq((10L, "zero one two three four five six seven"),
        (11L, "unrelated entirely"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$tmp/src")
    assert(Main.run(spark, Array("scrub-spans",
      "--source", s"$tmp/src", "--benchmark", s"$tmp/bench", "--id", "doc_id",
      "--text", "text", "--ngram", "5", "--dest", s"$tmp/dst",
      "--table", "clean", "--checkpoint", s"$tmp/ck")) === 0)
    val out = new graft.sync.ParquetStore(spark, s"$tmp/dst").read("clean").get
      .select($"doc_id", $"clean_tokens").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    assert(out(10L) === Seq("zero", "six", "seven"))
    assert(out(11L) === Seq("unrelated", "entirely"))
  }

  test("group-split end to end: near-dup twins share a split; assignment table is exhaustive") {
    val tmp = Files.createTempDirectory("graft_cli_gs").toString
    // 20L/21L are identical texts -> one component; the rest are unique
    val docs = Seq(
      (20L, "alpha beta gamma delta epsilon zeta"),
      (21L, "alpha beta gamma delta epsilon zeta"),
      (22L, "totally different content lives here now"),
      (23L, "yet another unrelated document body text"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("group-split",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--ngram", "1", "--num", "9", "--den", "10", "--hashes", "64",
      "--bands", "32", "--out", s"$tmp/split")) === 0)
    val rows = spark.read.parquet(s"$tmp/split").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("canon"), r.getAs[String]("split")))
    assert(rows.length === 4)
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(20L)._2 === 20L && byId(21L)._2 === 20L)
    assert(byId(20L)._3 === byId(21L)._3)
    assert(byId(22L)._2 === 22L && byId(23L)._2 === 23L)
  }

  test("compact end to end: serving log shrinks to one file, rows intact, guard survives") {
    val tmp = Files.createTempDirectory("graft_cli_cp").toString
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (3L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    corpus.write.parquet(s"$tmp/corpus")
    // drain 1: queries 1,2 -> appended served log (several small files)
    corpus.filter($"vec_id" <= 2).coalesce(1).write.mode("append").parquet(s"$tmp/queries")
    assert(Main.run(spark, Array("serve-knn",
      "--queries", s"$tmp/queries", "--corpus", s"$tmp/corpus",
      "--id", "vec_id", "--vec", "embedding", "--k", "2",
      "--dest", s"$tmp/dst", "--table", "served", "--checkpoint", s"$tmp/ck")) === 0)
    val servedDir = s"$tmp/dst/served.parquet"
    val before = spark.read.parquet(servedDir)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(Main.run(spark, Array("compact", "--dir", servedDir)) === 0)
    val (_, filesAfter) = graft.files.Compaction.dirBytesAndFiles(spark, servedDir)
    assert(filesAfter === 1L)
    val after = spark.read.parquet(servedDir)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(after === before) // row-identical: compaction moves files, not data
    // drain 2 against the COMPACTED log (same checkpoint): the retry guard
    // reads (__run, __batch) rows from the rewritten files and must still
    // accumulate exactly the batch join over all three queries
    corpus.filter($"vec_id" === 3L).coalesce(1).write.mode("append").parquet(s"$tmp/queries")
    assert(Main.run(spark, Array("serve-knn",
      "--queries", s"$tmp/queries", "--corpus", s"$tmp/corpus",
      "--id", "vec_id", "--vec", "embedding", "--k", "2",
      "--dest", s"$tmp/dst", "--table", "served", "--checkpoint", s"$tmp/ck")) === 0)
    val got = spark.read.parquet(servedDir)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = graft.similarity.Similarity
      .knnJoin(corpus, corpus, "vec_id", "embedding", 2)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet === want)
    assert(got.length === got.toSet.size) // no duplicate pairs after compaction
    // malformed target size fails fast
    assert(Main.run(spark, Array("compact", "--dir", servedDir,
      "--target-mb", "0")) === 2)
  }

  test("mine-negatives and centroid-audit end to end") {
    val tmp = Files.createTempDirectory("graft_cli_mn").toString
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f), 0),
      (1L, Seq(1f, 0f, 0f), 1),     // cross-label twin -> ceiling drops it
      (2L, Seq(0.8f, 0.6f, 0f), 1), // the hard negative
      (3L, Seq(0f, 1f, 0f), 1),
      (4L, Seq(0f, 0.9f, 0.1f), 1))
      .toDF("vec_id", "embedding", "label")
    emb.write.parquet(s"$tmp/corpus")
    emb.filter($"vec_id" === 0L).write.parquet(s"$tmp/queries")
    assert(Main.run(spark, Array("mine-negatives",
      "--queries", s"$tmp/queries", "--corpus", s"$tmp/corpus",
      "--id", "vec_id", "--vec", "embedding", "--label", "label",
      "--k", "1", "--out", s"$tmp/negs")) === 0)
    val negs = spark.read.parquet(s"$tmp/negs").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(negs.toSeq === Seq((0L, 2L)))
    assert(Main.run(spark, Array("centroid-audit",
      "--corpus", s"$tmp/corpus", "--id", "vec_id", "--vec", "embedding",
      "--label", "label", "--out", s"$tmp/audit")) === 0)
    val audit = spark.read.parquet(s"$tmp/audit").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("label"), r.getAs[Long]("centroid_label"))).toMap
    assert(audit.size === 5)
    // vec 1 sits on the label-0 centroid's axis: the flagged mislabel
    assert(audit(1L) === ((1L, 0L)))
    assert(audit(0L) === ((0L, 0L)))
    // malformed: --k must be a positive int, fails before Spark work
    assert(Main.run(spark, Array("mine-negatives",
      "--queries", s"$tmp/queries", "--corpus", s"$tmp/corpus",
      "--id", "vec_id", "--vec", "embedding", "--label", "label",
      "--k", "zero", "--out", s"$tmp/negs2")) === 2)
  }

  test("self-scrub, build-vocab, encode-ids end to end: artifacts equal the operators") {
    import graft.text.Vocab
    val tmp = Files.createTempDirectory("graft_cli_sv").toString
    val boiler = "copyright notice all rights reserved by the site"
    val docs = Seq(
      (1L, s"unique alpha content here $boiler"),
      (2L, s"$boiler other beta content entirely"),
      (3L, "the cat and the dog")).toDF("doc_id", "text")
    docs.write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("self-scrub",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--out", s"$tmp/clean")) === 0)
    val clean = spark.read.parquet(s"$tmp/clean").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(clean(1L) === Seq("unique", "alpha", "content", "here"))
    assert(clean(3L).size === 5) // untouched
    assert(Main.run(spark, Array("build-vocab",
      "--corpus", s"$tmp/corpus", "--text", "text", "--top", "4",
      "--out", s"$tmp/vocab")) === 0)
    assert(Main.run(spark, Array("encode-ids",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--vocab", s"$tmp/vocab", "--out", s"$tmp/ids")) === 0)
    val got = spark.read.parquet(s"$tmp/ids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = Vocab.encode(docs, "doc_id", "text",
        spark.read.parquet(s"$tmp/vocab")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got === want)
    assert(got(3L).forall(_ >= 0L) && got.values.flatten.exists(_ === 0L))
    // malformed --top exits 2 before Spark work
    assert(Main.run(spark, Array("build-vocab",
      "--corpus", s"$tmp/corpus", "--text", "text", "--top", "none",
      "--out", s"$tmp/v2")) === 2)
    // the streaming gate accumulates the SAME encodings
    assert(Main.run(spark, Array("encode-gate",
      "--source", s"$tmp/corpus", "--vocab", s"$tmp/vocab", "--id", "doc_id",
      "--text", "text", "--dest", s"$tmp/gate", "--table", "encoded",
      "--checkpoint", s"$tmp/ck")) === 0)
    val gated = spark.read.parquet(s"$tmp/gate/encoded.parquet")
      .select($"doc_id", $"ids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(gated === want)
  }

  test("winnow and winnow-overlap end to end: artifacts equal the operator output") {
    import graft.text.Winnow
    val tmp = Files.createTempDirectory("graft_cli_wn").toString
    val shared = "sigma tau upsilon phi chi psi omega kappa lambda"
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon zeta"),
      (2L, s"omicron pi rho $shared nu xi iota"),
      (3L, "unrelated words entirely different from all other documents here"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("winnow",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--out", s"$tmp/fps")) === 0)
    val got = spark.read.parquet(s"$tmp/fps").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = Winnow.fingerprints(docs, "doc_id", "text", 3, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === want)
    assert(Main.run(spark, Array("winnow-overlap",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--min-shared", "2", "--out", s"$tmp/pairs")) === 0)
    val pairs = spark.read.parquet(s"$tmp/pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
    // malformed numeric option exits 2 before Spark work
    assert(Main.run(spark, Array("winnow",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--gram", "0", "--out", s"$tmp/bad")) === 2)
  }

  test("build-overlap-index + overlap-gate end to end: persisted index flags arrival overlap") {
    val tmp = Files.createTempDirectory("graft_cli_og").toString
    val shared = "sigma tau upsilon phi chi psi omega kappa lambda"
    Seq((1L, s"alpha beta gamma $shared delta epsilon zeta"),
        (2L, "fully unique corpus document with no shared content at all"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("build-overlap-index",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--out", s"$tmp/idx")) === 0)
    Seq((10L, s"omicron pi rho $shared nu xi iota"),
        (11L, "another entirely unrelated arrival about different things"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$tmp/src")
    assert(Main.run(spark, Array("overlap-gate",
      "--source", s"$tmp/src", "--index", s"$tmp/idx", "--id", "doc_id",
      "--text", "text", "--dest", s"$tmp/dst", "--table", "pairs",
      "--checkpoint", s"$tmp/ck")) === 0)
    val pairs = spark.read.parquet(s"$tmp/dst/pairs.parquet")
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 1L)))
    // missing index fails fast
    intercept[RuntimeException] {
      Main.run(spark, Array("overlap-gate",
        "--source", s"$tmp/src", "--index", s"$tmp/noidx", "--id", "doc_id",
        "--text", "text", "--dest", s"$tmp/dst2", "--table", "pairs",
        "--checkpoint", s"$tmp/ck2"))
    }
  }

  test("ingest-dedup-index end to end: accumulated index serves ingest-dedup; manifest guards the family") {
    val tmp = Files.createTempDirectory("graft_cli_ddi").toString
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((1L, shared), (2L, "completely different corpus document about other things"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("ingest-dedup-index",
      "--source", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--ngram", "1", "--hashes", "20", "--bands", "4",
      "--dest", s"$tmp/idx", "--checkpoint", s"$tmp/ick")) === 0)
    // the manifest landed — a mismatched family refuses to fold more rows
    intercept[IllegalArgumentException] {
      Main.run(spark, Array("ingest-dedup-index",
        "--source", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
        "--ngram", "1", "--hashes", "10", "--bands", "2",
        "--dest", s"$tmp/idx", "--checkpoint", s"$tmp/ick2"))
    }
    // a manifest-LESS store with existing index tables refuses: its hash
    // family is unknown, and stamping the CLI's knobs over it would fold
    // mismatched rows next to the old ones
    Seq((1L, 2L, 3L)).toDF("id_b", "band", "bh")
      .write.parquet(s"$tmp/orphan/band_index.parquet")
    intercept[IllegalArgumentException] {
      Main.run(spark, Array("ingest-dedup-index",
        "--source", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
        "--ngram", "1", "--hashes", "20", "--bands", "4",
        "--dest", s"$tmp/orphan", "--checkpoint", s"$tmp/ock"))
    }
    // an exact-twin arrival is rejected through the SAME serve path a
    // build-dedup-index artifact uses
    Seq((9L, shared)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/arr")
    assert(Main.run(spark, Array("ingest-dedup",
      "--source", s"$tmp/arr", "--index", s"$tmp/idx", "--id", "doc_id",
      "--text", "text", "--ngram", "1", "--num", "9", "--den", "10",
      "--hashes", "20", "--bands", "4", "--dest", s"$tmp/gate",
      "--table", "rejects", "--checkpoint", s"$tmp/gck")) === 0)
    val rejects = spark.read.parquet(s"$tmp/gate/rejects.parquet")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(rejects === Set(9L))
  }

  test("weighted-sample end to end: deterministic artifact equals the operator") {
    val tmp = Files.createTempDirectory("graft_cli_ws").toString
    val df = (0L until 40L).map(i => (i, s"g${i % 2}", 1L + i)).toDF("id", "g", "w")
    df.write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("weighted-sample",
      "--corpus", s"$tmp/corpus", "--keys", "g", "--id", "id",
      "--weight", "w", "--k", "3", "--out", s"$tmp/sample")) === 0)
    val got = spark.read.parquet(s"$tmp/sample")
      .select($"g", $"id", $"sample_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.operators.Sampling.weightedSample(df, Seq("g"), "id",
        $"w", 3, "graft")
      .select($"g", $"id", $"sample_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.size === 6)
  }

  test("encode-gate --join end to end: large-vocab gate equals encode-ids") {
    val tmp = Files.createTempDirectory("graft_cli_egj").toString
    Seq((1L, "the cat and the dog"), (2L, "zebra"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("build-vocab",
      "--corpus", s"$tmp/corpus", "--text", "text", "--top", "4",
      "--out", s"$tmp/vocab")) === 0)
    assert(Main.run(spark, Array("encode-gate",
      "--source", s"$tmp/corpus", "--vocab", s"$tmp/vocab", "--id", "doc_id",
      "--text", "text", "--dest", s"$tmp/dst", "--table", "encoded",
      "--checkpoint", s"$tmp/ck", "--join", "true")) === 0)
    assert(Main.run(spark, Array("encode-ids",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--vocab", s"$tmp/vocab", "--out", s"$tmp/batch")) === 0)
    def m(p: String) = spark.read.parquet(p).select($"doc_id", $"ids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(m(s"$tmp/dst/encoded.parquet") === m(s"$tmp/batch"))
    // malformed --join is a usage error before any Spark job
    assert(Main.run(spark, Array("encode-gate",
      "--source", s"$tmp/corpus", "--vocab", s"$tmp/vocab", "--id", "doc_id",
      "--text", "text", "--dest", s"$tmp/dst2", "--table", "encoded",
      "--checkpoint", s"$tmp/ck2", "--join", "yes")) === 2)
  }

  test("bpe-train + bpe-encode end to end: persisted merges, replayed segmentation") {
    val tmp = Files.createTempDirectory("graft_cli_bpe").toString
    // wf: ab x2, ac x1 -> merge 0 = (a,b,2), merge 1 = (a,c,1)
    Seq((1L, "ab ab ac")).toDF("doc_id", "text").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("bpe-train",
      "--corpus", s"$tmp/corpus", "--text", "text", "--merges", "5",
      "--out", s"$tmp/merges")) === 0)
    val m = spark.read.parquet(s"$tmp/merges")
      .select($"step", $"left", $"right", $"cnt").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).sortBy(_._1)
    assert(m.toSeq === Seq((0, "a", "b", 2L), (1, "a", "c", 1L)))
    assert(Main.run(spark, Array("bpe-encode",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--merges", s"$tmp/merges", "--out", s"$tmp/pieces")) === 0)
    val pieces = spark.read.parquet(s"$tmp/pieces")
      .select($"doc_id", $"pieces").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(pieces(1L) === Seq("ab", "ab", "ac"))
    // empty merge artifact fails with the diagnostic, not garbage output
    Seq.empty[(Int, String, String, Long)].toDF("step", "left", "right", "cnt")
      .write.parquet(s"$tmp/empty")
    intercept[RuntimeException] {
      Main.run(spark, Array("bpe-encode",
        "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
        "--merges", s"$tmp/empty", "--out", s"$tmp/pieces2"))
    }
  }

  test("bpe-gate end to end: streamed pieces equal bpe-encode; regime mismatch fails closed") {
    val tmp = Files.createTempDirectory("graft_cli_bpegate").toString
    Seq((1L, "ab ab ac"), (2L, "ab ac")).toDF("doc_id", "text")
      .write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("bpe-train",
      "--corpus", s"$tmp/corpus", "--text", "text", "--merges", "2",
      "--out", s"$tmp/merges")) === 0)
    assert(Main.run(spark, Array("bpe-encode",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--merges", s"$tmp/merges", "--out", s"$tmp/batch")) === 0)
    assert(Main.run(spark, Array("bpe-gate",
      "--source", s"$tmp/corpus", "--merges", s"$tmp/merges",
      "--id", "doc_id", "--text", "text",
      "--dest", s"$tmp/out", "--table", "pieces",
      "--checkpoint", s"$tmp/ck")) === 0)
    def byDoc(dir: String) = spark.read.parquet(dir)
      .select($"doc_id", $"pieces").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(byDoc(s"$tmp/out/pieces.parquet") === byDoc(s"$tmp/batch"))
    // a char-level artifact refuses to serve under --byte-level true
    intercept[IllegalArgumentException] {
      Main.run(spark, Array("bpe-gate",
        "--source", s"$tmp/corpus", "--merges", s"$tmp/merges",
        "--id", "doc_id", "--text", "text", "--byte-level", "true",
        "--dest", s"$tmp/out2", "--table", "pieces",
        "--checkpoint", s"$tmp/ck2"))
    }
  }

  test("media-neardup + ingest-media-dedup end to end: streamed pair log equals the batch miner") {
    val tmp = Files.createTempDirectory("graft_cli_media").toString
    def pcm(sig: Long, scale: Int = 1): Array[Byte] = {
      val (frames, per) = (65, 64)
      val bytes = new Array[Byte](frames * per * 2)
      var a = 1000
      for (f <- 0 until frames) {
        if (f > 0) a += (if (((sig >>> (f - 1)) & 1L) == 1L) 10 else -10)
        for (i <- 0 until per) {
          val s = (if (i % 2 == 0) a else -a) * scale
          bytes(2 * (f * per + i)) = (s & 0xff).toByte
          bytes(2 * (f * per + i) + 1) = ((s >> 8) & 0xff).toByte
        }
      }
      bytes
    }
    val sig = 0x123456789abcdef0L
    val media = Seq(
      (10L, pcm(sig)),
      (11L, pcm(sig, scale = 3)),          // re-leveled twin of 10
      (20L, pcm(0x0fedcba987654321L)),     // unrelated
      (30L, pcm(sig ^ (1L << 5))),         // hamming 1 from 10/11
      (40L, new Array[Byte](65 * 64 * 2))) // silence: filtered, never pairs
      .toDF("doc_id", "media")
    media.write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("media-neardup",
      "--corpus", s"$tmp/corpus", "--modality", "audio",
      "--out", s"$tmp/batch")) === 0)
    // stream the same corpus in two batches: 10/11 intra, 30 cross
    media.filter($"doc_id" <= 20L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    media.filter($"doc_id" > 20L).coalesce(1).write.mode("append").parquet(s"$tmp/src")
    assert(Main.run(spark, Array("ingest-media-dedup",
      "--source", s"$tmp/src", "--modality", "audio",
      "--dest", s"$tmp/idx", "--checkpoint", s"$tmp/ck")) === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(org.apache.spark.sql.functions.least($"id_a", $"id_b"),
        org.apache.spark.sql.functions.greatest($"id_a", $"id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = pairs(spark.read.parquet(s"$tmp/batch"))
    assert(batch === Set((10L, 11L), (10L, 30L), (11L, 30L)))
    assert(pairs(spark.read.parquet(s"$tmp/idx/dup_pairs.parquet")) === batch)
    // silence never reaches the persisted index
    assert(spark.read.parquet(s"$tmp/idx/fingerprints.parquet")
      .filter($"doc_id" === 40L).count() === 0L)
    // a bogus modality is a usage error, caught before Spark runs
    assert(Main.run(spark, Array("media-neardup",
      "--corpus", s"$tmp/corpus", "--modality", "pixels",
      "--out", s"$tmp/x")) === 2)
  }

  test("media-neardup --modality video: temporal-signature pairs; degenerate bogus modality rejected") {
    val tmp = Files.createTempDirectory("graft_cli_video").toString
    def avi(levels: Seq[Int]): Array[Byte] = {
      def le32(v: Int): Array[Byte] =
        Array(v, v >> 8, v >> 16, v >> 24).map(x => (x & 0xff).toByte)
      def chunk(cid: String, data: Array[Byte]): Array[Byte] =
        cid.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
          (if ((data.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])
      def jpeg(g: Int): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(16, 16,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, g * 0x010101)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        bos.toByteArray
      }
      val dcs = levels.flatMap(g => chunk("00dc", jpeg(g))).toArray
      "RIFF".getBytes("US-ASCII") ++ le32(0) ++ "AVI ".getBytes("US-ASCII") ++
        chunk("LIST", "movi".getBytes("US-ASCII") ++ dcs)
    }
    // walk A: 100,160,100,160,100 -> sig 0b0101; its +3 re-level twin;
    // walk B: the inverse -> sig 0b1010, Hamming 4 from A (no pair)
    val a = Seq(100, 160, 100, 160, 100)
    Seq((50L, avi(a)), (51L, avi(a.map(_ + 3))), (60L, avi(a.map(g => 260 - g))))
      .toDF("doc_id", "media").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("media-neardup",
      "--corpus", s"$tmp/corpus", "--modality", "video",
      "--threshold-milli", "15000", "--out", s"$tmp/pairs")) === 0)
    val got = spark.read.parquet(s"$tmp/pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((50L, 51L)))
  }

  test("main-content: block-density extraction artifact with audit counters") {
    val tmp = Files.createTempDirectory("graft_cli_mc").toString
    Seq((1L, "<nav><a href=\"/a\">Home page</a> <a href=\"/b\">About us</a></nav>" +
        "<p>This body paragraph is long enough to keep and carries no links.</p>" +
        "<footer>Short <a href=\"/t\">Terms</a></footer>"))
      .toDF("id", "page").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("main-content",
      "--corpus", s"$tmp/corpus", "--id", "id", "--html", "page",
      "--min-chars", "15", "--max-link-permille", "300",
      "--out", s"$tmp/o")) === 0)
    val r = spark.read.parquet(s"$tmp/o").head
    assert(r.getString(1) ===
      "This body paragraph is long enough to keep and carries no links.")
    assert(r.getLong(2) === 3L && r.getLong(3) === 1L)
  }

  test("main-content-gate + serve-media-pairs: ingest gate and tombstone-gated pair serving") {
    val tmp = Files.createTempDirectory("graft_cli_mcg").toString
    // main-content-gate: the nav shell must be dropped AT the gate
    Seq((1L, "<p>This keeper paragraph is long enough and has no links at all.</p>"),
        (2L, "<nav><a href=\"/a\">Home page</a> <a href=\"/b\">About page</a></nav>"))
      .toDF("id", "page").coalesce(1).write.parquet(s"$tmp/src")
    assert(Main.run(spark, Array("main-content-gate",
      "--source", s"$tmp/src", "--id", "id", "--html", "page",
      "--min-chars", "15", "--max-link-permille", "300",
      "--dest", s"$tmp/store", "--table", "extracted",
      "--checkpoint", s"$tmp/ck")) === 0)
    val kept = spark.read.parquet(s"$tmp/store/extracted.parquet")
      .select($"id").collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L))
    // serve-media-pairs over a hand-written pair log + tombstone
    Seq((10L, 11L), (12L, 10L), (20L, 21L)).toDF("id_a", "id_b")
      .write.parquet(s"$tmp/store/dup_pairs.parquet")
    Seq(10L).toDF("tombstone_id")
      .write.parquet(s"$tmp/store/tombstones.parquet")
    assert(Main.run(spark, Array("serve-media-pairs",
      "--index", s"$tmp/store", "--tombstones", "true",
      "--out", s"$tmp/pairs")) === 0)
    val served = spark.read.parquet(s"$tmp/pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served === Set((20L, 21L)))
  }

  test("retain-history: horizon pruning artifact") {
    val tmp = Files.createTempDirectory("graft_cli_rh").toString
    Seq((1L, 10L, 1L, Some(2L)), (1L, 11L, 2L, None), (2L, 20L, 1L, Some(3L)))
      .toDF("id", "v", "valid_from", "valid_to").write.parquet(s"$tmp/h")
    assert(Main.run(spark, Array("retain-history",
      "--history", s"$tmp/h", "--horizon", "2", "--out", s"$tmp/o")) === 0)
    val got = spark.read.parquet(s"$tmp/o").select($"id", $"valid_from").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // [1,2) ended AT the horizon: dropped; the open row and [1,3) stay
    assert(got === Set((1L, 2L), (2L, 1L)))
  }

  test("scd2-ingest: maintained history artifact with CDC deletes") {
    val tmp = Files.createTempDirectory("graft_cli_scd2i").toString
    Seq((1L, Some(10L), 1L, "u"), (2L, Some(20L), 1L, "u"),
        (1L, Option.empty[Long], 2L, "d"))
      .toDF("id", "v", "ver", "op")
      .repartition(1).write.parquet(s"$tmp/src")
    assert(Main.run(spark, Array("scd2-ingest",
      "--source", s"$tmp/src", "--pks", "id", "--compare", "v",
      "--ver", "ver", "--op", "op",
      "--dest", s"$tmp/state", "--table", "history",
      "--checkpoint", s"$tmp/ck")) === 0)
    val h = spark.read.parquet(s"$tmp/state/history.parquet")
      .drop("__last_batch", "__run")
      .select($"id", $"v", $"valid_from", $"valid_to").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(h === Set((1L, Some(10L), 1L, Some(2L)), (2L, Some(20L), 1L, None)))
  }

  test("quantiles: exact global and keyed artifacts; malformed probs are usage errors") {
    val tmp = Files.createTempDirectory("graft_cli_q").toString
    ((1L to 6L).map(i => (i, 10L, "a")) ++ (7L to 10L).map(i => (i, i * 10L, "b")))
      .toDF("id", "v", "src").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("quantiles",
      "--corpus", s"$tmp/corpus", "--value", "v", "--id", "id",
      "--bucket-width", "7", "--probs", "500,1000",
      "--out", s"$tmp/g")) === 0)
    val g = spark.read.parquet(s"$tmp/g").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // n=10 sorted: 10x6, 70, 80, 90, 100 -> rank 5 = 10, rank 10 = 100
    assert(g === Map(500L -> 10L, 1000L -> 100L))
    assert(Main.run(spark, Array("quantiles",
      "--corpus", s"$tmp/corpus", "--value", "v", "--id", "id",
      "--bucket-width", "7", "--probs", "500", "--keys", "src",
      "--out", s"$tmp/k")) === 0)
    val k = spark.read.parquet(s"$tmp/k").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // a: 6x10 -> rank 3 = 10; b: 70,80,90,100 -> rank 2 = 80
    assert(k === Map(("a", 500L) -> 10L, ("b", 500L) -> 80L))
    assert(Main.run(spark, Array("quantiles",
      "--corpus", s"$tmp/corpus", "--value", "v", "--id", "id",
      "--bucket-width", "7", "--probs", "5000", "--out", s"$tmp/x")) === 2)
    assert(Main.run(spark, Array("quantiles",
      "--corpus", s"$tmp/corpus", "--value", "v", "--id", "id",
      "--bucket-width", "0", "--probs", "500", "--out", s"$tmp/x")) === 2)
  }

  test("html-extract: clean text + markup counters artifact") {
    val tmp = Files.createTempDirectory("graft_cli_html").toString
    Seq((1L, "<p>hello <b>world</b></p><a href=\"x\">l</a>"),
        (2L, "<script>var a = 1 < 2;</script>plain &amp; simple"))
      .toDF("id", "page").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("html-extract",
      "--corpus", s"$tmp/corpus", "--id", "id", "--html", "page",
      "--out", s"$tmp/o")) === 0)
    val o = spark.read.parquet(s"$tmp/o").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(o(1L) === (("hello world l", 6L, 1L, 0L)))
    assert(o(2L) === (("plain & simple", 2L, 0L, 1L)))
  }

  test("maintain-counts with a composite key + topk-report: the heavy-hitters pair") {
    val tmp = Files.createTempDirectory("graft_cli_topk").toString
    Seq(("s1", "a"), ("s1", "a"), ("s1", "b"), ("s2", "c"))
      .toDF("src", "tok").write.parquet(s"$tmp/arrivals")
    assert(Main.run(spark, Array("maintain-counts",
      "--source", s"$tmp/arrivals", "--key", "src,tok",
      "--dest", s"$tmp/state", "--table", "counts",
      "--checkpoint", s"$tmp/ck")) === 0)
    assert(Main.run(spark, Array("topk-report",
      "--counts", s"$tmp/state/counts.parquet", "--group", "src",
      "--tie", "tok", "--k", "1", "--out", s"$tmp/top")) === 0)
    val top = spark.read.parquet(s"$tmp/top").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(top === Set(("s1", "a", 2L, 1L), ("s2", "c", 1L, 1L)))
  }

  test("release-audit: the datasheet bundle lands as three artifacts") {
    val tmp = Files.createTempDirectory("graft_cli_rel").toString
    Seq((1L, "s1", "alpha beta", "US"), (2L, "s1", "gamma", "US"),
        (3L, "s2", "delta", "DE"))
      .toDF("id", "src", "text", "country").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("release-audit",
      "--corpus", s"$tmp/corpus", "--group", "src", "--id", "id",
      "--text", "text", "--quasi", "country", "--k", "2",
      "--out", s"$tmp/audit")) === 0)
    assert(spark.read.parquet(s"$tmp/audit/data_card").count() === 2L)   // 2 groups
    assert(spark.read.parquet(s"$tmp/audit/profile").count() === 4L)     // 4 columns
    // DE appears once < k=2: exactly one violating combo
    val ka = spark.read.parquet(s"$tmp/audit/k_anonymity").collect()
    assert(ka.length === 1 && ka.head.getString(0) === "DE")
    // without --quasi the privacy report is skipped, the rest still lands
    assert(Main.run(spark, Array("release-audit",
      "--corpus", s"$tmp/corpus", "--group", "src", "--id", "id",
      "--text", "text", "--out", s"$tmp/audit2")) === 0)
    assert(!new java.io.File(s"$tmp/audit2/k_anonymity").exists())
    assert(spark.read.parquet(s"$tmp/audit2/data_card").count() === 2L)
  }

  test("line-dedup-within: first-occurrence line cleanup artifact") {
    val tmp = Files.createTempDirectory("graft_cli_ldw").toString
    Seq((1L, "nav\nbody\nnav"), (2L, "solo")).toDF("id", "t")
      .write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("line-dedup-within",
      "--corpus", s"$tmp/corpus", "--id", "id", "--text", "t",
      "--out", s"$tmp/o")) === 0)
    val o = spark.read.parquet(s"$tmp/o").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(o === Map(1L -> (("nav\nbody", 3L, 1L)), 2L -> (("solo", 1L, 0L))))
  }

  test("url-norm: canonical-key artifact with NULLs for non-URLs") {
    val tmp = Files.createTempDirectory("graft_cli_url").toString
    Seq((1L, "HTTP://A.com:80/x?utm_s=1&b=2#f"), (2L, "not a url"))
      .toDF("id", "u").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("url-norm",
      "--corpus", s"$tmp/corpus", "--id", "id", "--url", "u",
      "--out", s"$tmp/o")) === 0)
    val o = spark.read.parquet(s"$tmp/o").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(o === Map(1L -> "http://a.com/x?b=2", 2L -> null))
  }

  test("scd2-apply/asof: temporal sync artifacts; missing --history without --init is a usage error") {
    val tmp = Files.createTempDirectory("graft_cli_scd2").toString
    Seq((1L, 10L), (2L, 20L)).toDF("id", "cents").write.parquet(s"$tmp/s1")
    Seq((1L, 15L), (3L, 30L)).toDF("id", "cents").write.parquet(s"$tmp/s2")
    assert(Main.run(spark, Array("scd2-apply",
      "--snapshot", s"$tmp/s1", "--pks", "id", "--compare", "cents",
      "--version", "1", "--init", "true", "--out", s"$tmp/h1")) === 0)
    assert(Main.run(spark, Array("scd2-apply",
      "--snapshot", s"$tmp/s2", "--pks", "id", "--compare", "cents",
      "--version", "2", "--history", s"$tmp/h1", "--out", s"$tmp/h2")) === 0)
    val h2 = spark.read.parquet(s"$tmp/h2").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) 0L else r.getLong(3))).toSet
    assert(h2 === Set(
      (1L, 10L, 1L, 2L), (1L, 15L, 2L, 0L),   // changed: closed + reopened
      (2L, 20L, 1L, 2L),                      // removed: closed
      (3L, 30L, 2L, 0L)))                     // added: opened
    // time travel back to version 1 reproduces snapshot 1
    assert(Main.run(spark, Array("asof",
      "--history", s"$tmp/h2", "--version", "1", "--out", s"$tmp/a1")) === 0)
    assert(spark.read.parquet(s"$tmp/a1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 10L), (2L, 20L)))
    // no --history and no --init: usage error before Spark runs
    assert(Main.run(spark, Array("scd2-apply",
      "--snapshot", s"$tmp/s2", "--pks", "id", "--compare", "cents",
      "--version", "2", "--out", s"$tmp/x")) === 2)
    // --upserts true: the absent key (2) stays OPEN instead of closing
    assert(Main.run(spark, Array("scd2-apply",
      "--snapshot", s"$tmp/s2", "--pks", "id", "--compare", "cents",
      "--version", "2", "--history", s"$tmp/h1", "--upserts", "true",
      "--out", s"$tmp/hu")) === 0)
    assert(spark.read.parquet(s"$tmp/hu")
      .filter("id = 2 AND valid_to IS NULL").count() === 1L)
    // scd2-close: the CDC delete half
    Seq(Tuple1(2L)).toDF("id").write.parquet(s"$tmp/dels")
    assert(Main.run(spark, Array("scd2-close",
      "--history", s"$tmp/hu", "--keys", s"$tmp/dels", "--pks", "id",
      "--version", "3", "--out", s"$tmp/hc")) === 0)
    assert(spark.read.parquet(s"$tmp/hc")
      .filter("id = 2 AND valid_to = 3").count() === 1L)
  }

  test("profile: per-column report artifact; malformed --approx is a usage error") {
    val tmp = Files.createTempDirectory("graft_cli_prof").toString
    Seq[(java.lang.Long, String)]((1L, "a"), (2L, null), (2L, "b"))
      .toDF("k", "s").write.parquet(s"$tmp/t")
    assert(Main.run(spark, Array("profile",
      "--corpus", s"$tmp/t", "--out", s"$tmp/p")) === 0)
    val p = spark.read.parquet(s"$tmp/p").collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(p("k") === Seq(3L, 0L, 2L, 1L, 2L))
    assert(p("s") === Seq(3L, 1L, 2L, null, null))
    assert(Main.run(spark, Array("profile",
      "--corpus", s"$tmp/t", "--out", s"$tmp/p2", "--approx", "yes")) === 2)
  }

  test("validate: declarative checks build the expectation report; malformed specs are usage errors") {
    val tmp = Files.createTempDirectory("graft_cli_val").toString
    Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "a"), (1L, 55L, "b"), (2L, null, "c"))
      .toDF("id", "v", "s").write.parquet(s"$tmp/t")
    Seq(1L, 2L).toDF("pk").write.parquet(s"$tmp/ref")
    assert(Main.run(spark, Array("validate",
      "--corpus", s"$tmp/t", "--not-null", "v,s", "--range", "v:0:50",
      "--unique", "id", "--ref", "id", "--ref-table", s"$tmp/ref",
      "--ref-key", "pk", "--out", s"$tmp/rep")) === 0)
    val rep = spark.read.parquet(s"$tmp/rep")
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rep("v_not_null") === ((1L, 0L)))     // one NULL v
    assert(rep("s_not_null") === ((0L, 1L)))
    assert(rep("v_range") === ((2L, 0L)))        // 55 out of range, NULL violates
    assert(rep("id_unique") === ((1L, 0L)))      // duplicate id 1
    assert(rep("id_in_ref") === ((0L, 1L)))      // all ids resolve
    // malformed range spec: usage error before any Spark job
    assert(Main.run(spark, Array("validate",
      "--corpus", s"$tmp/t", "--range", "v:low:50", "--out", s"$tmp/x")) === 2)
    // zero checks: usage error
    assert(Main.run(spark, Array("validate",
      "--corpus", s"$tmp/t", "--out", s"$tmp/x")) === 2)
  }

  test("keywords: TextRank artifact ranks the corpus hubs") {
    val tmp = Files.createTempDirectory("graft_cli_kw").toString
    Seq("data merge data merge data spark").toDF("text")
      .write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("keywords",
      "--corpus", s"$tmp/corpus", "--text", "text", "--iters", "3",
      "--k", "2", "--out", s"$tmp/kw")) === 0)
    val kw = spark.read.parquet(s"$tmp/kw").orderBy("rank")
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(kw.length === 2 && kw.map(_._2).toSeq === Seq(1L, 2L))
  }

  test("gopher-filter + gopher-gate: one-pass battery artifact, streamed verdicts equal batch") {
    val tmp = Files.createTempDirectory("graft_cli_gq").toString
    val docs = Seq(
      (1L, ("the be of and worded " * 12).trim), // passes every rule
      (2L, "too few"),
      (3L, ("the of " * 30).trim + " ### ... more...")).toDF("doc_id", "text")
    docs.write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("gopher-filter",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--out", s"$tmp/q")) === 0)
    val art = spark.read.parquet(s"$tmp/q")
    val keep = art.select($"doc_id", $"keep").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keep === Map(1L -> 1L, 2L -> 0L, 3L -> 0L))
    // the compression signal rides in the same artifact, positive
    assert(art.filter($"compression_milli" <= 0L).count() === 0)
    // the streamed gate accumulates the identical battery columns
    assert(Main.run(spark, Array("gopher-gate",
      "--source", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--dest", s"$tmp/dst", "--table", "quality",
      "--checkpoint", s"$tmp/ck")) === 0)
    val streamed = spark.read.parquet(s"$tmp/dst/quality.parquet")
      .drop("__run", "__batch").orderBy("doc_id").collect().toSeq
    val batch = graft.text.Gopher.quality(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(streamed.map(_.toSeq) === batch.map(_.toSeq))
  }

  test("unigram-train + unigram-encode end to end: persisted pieces, Viterbi apply") {
    val tmp = Files.createTempDirectory("graft_cli_uni").toString
    Seq((1L, "the then an than the")).toDF("doc_id", "text")
      .write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("unigram-train",
      "--corpus", s"$tmp/corpus", "--text", "text", "--max-piece-len", "3",
      "--keep", "4", "--rounds", "2", "--out", s"$tmp/pieces")) === 0)
    val pieces = spark.read.parquet(s"$tmp/pieces")
      .select($"piece", $"cnt", $"score_milli").collect()
      .map(r => graft.text.Unigram.UnigramPiece(
        r.getString(0), r.getLong(1), r.getLong(2)))
    // the artifact equals the driver-side reference train over the corpus
    val ref = graft.text.Unigram.unigramTrainReference(
      Seq(("the", 2L), ("then", 1L), ("an", 1L), ("than", 1L)),
      maxPieceLen = 3, keepMulti = 4, rounds = 2)
    assert(pieces.sortBy(p => (-p.cnt, p.piece)).toSeq === ref)
    assert(Main.run(spark, Array("unigram-encode",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--pieces", s"$tmp/pieces", "--out", s"$tmp/enc")) === 0)
    val got = spark.read.parquet(s"$tmp/enc")
      .select($"doc_id", $"pieces").head
    val scores = ref.map(p => p.piece -> p.scoreMilli).toMap
    val maxLen = ref.map(_.piece.length).max
    assert(got.getSeq[String](1) === Seq("the", "then", "an", "than", "the")
      .flatMap(w => graft.text.Unigram.viterbi(w, scores, maxLen)))
    // empty piece artifact fails with the diagnostic, not garbage output
    Seq.empty[(String, Long, Long)].toDF("piece", "cnt", "score_milli")
      .write.parquet(s"$tmp/empty")
    intercept[RuntimeException] {
      Main.run(spark, Array("unigram-encode",
        "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
        "--pieces", s"$tmp/empty", "--out", s"$tmp/enc2"))
    }
  }

  test("train-langid + langid-classify: profile artifact, rank-bound validation") {
    val tmp = Files.createTempDirectory("graft_cli_lid").toString
    Seq((1L, "x", "aaaa"), (2L, "x", "aaab"), (3L, "y", "bbbb"), (4L, "y", "bbba"))
      .toDF("doc_id", "lang", "text").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("train-langid",
      "--corpus", s"$tmp/corpus", "--lang", "lang", "--text", "text",
      "--k", "2", "--out", s"$tmp/prof")) === 0)
    assert(Main.run(spark, Array("langid-classify",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--profiles", s"$tmp/prof", "--k", "2", "--out", s"$tmp/pred")) === 0)
    val got = spark.read.parquet(s"$tmp/pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // artifact == operator (shared implementation, pin the wiring)
    val want = graft.text.LangProfile.classify(
        spark.read.parquet(s"$tmp/corpus"), "doc_id", "text",
        spark.read.parquet(s"$tmp/prof"), 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === want && got.nonEmpty)
    // a k below the trained rank bound fails with the diagnostic
    intercept[RuntimeException] {
      Main.run(spark, Array("langid-classify",
        "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
        "--profiles", s"$tmp/prof", "--k", "1", "--out", s"$tmp/p2"))
    }
  }

  test("pack-windows: materialized training windows equal the operator") {
    val tmp = Files.createTempDirectory("graft_cli_pw").toString
    Seq((1L, "g", "a b c"), (2L, "g", "d e f g h"), (9L, "h", "x y"))
      .toDF("doc_id", "src", "text").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("pack-windows",
      "--corpus", s"$tmp/corpus", "--group", "src", "--order", "doc_id",
      "--text", "text", "--window", "4", "--out", s"$tmp/wins")) === 0)
    val got = spark.read.parquet(s"$tmp/wins").collect()
      .map(r => (r.getAs[String]("src"), r.getAs[Long]("win_id")) ->
        r.getAs[String]("window_text")).toMap
    assert(got === Map(("g", 0L) -> "a b c d", ("g", 1L) -> "e f g h",
      ("h", 0L) -> "x y"))
    // bad --window is a usage error
    assert(Main.run(spark, Array("pack-windows",
      "--corpus", s"$tmp/corpus", "--group", "src", "--order", "doc_id",
      "--text", "text", "--window", "0", "--out", s"$tmp/w2")) === 2)
  }

  test("ingest-line-index + serve-line-dedup: retroactive hot lines across batches") {
    val tmp = Files.createTempDirectory("graft_cli_lix").toString
    // batch 1: FOOTER appears twice (under the maxDf=2 threshold)...
    Seq((1L, "FOOTER\nalpha"), (2L, "beta\nFOOTER"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/src")
    assert(Main.run(spark, Array("ingest-line-index",
      "--source", s"$tmp/src", "--id", "doc_id", "--text", "text",
      "--dest", s"$tmp/ix", "--checkpoint", s"$tmp/ck")) === 0)
    // ...batch 2 (same source dir, new files) pushes it over: docs 1 and
    // 2 — landed BEFORE the line went hot — must lose it retroactively
    Seq((3L, "FOOTER\ngamma")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$tmp/src")
    assert(Main.run(spark, Array("ingest-line-index",
      "--source", s"$tmp/src", "--id", "doc_id", "--text", "text",
      "--dest", s"$tmp/ix", "--checkpoint", s"$tmp/ck")) === 0)
    assert(Main.run(spark, Array("serve-line-dedup",
      "--index", s"$tmp/ix", "--id", "doc_id", "--max-df", "2",
      "--out", s"$tmp/clean")) === 0)
    val got = spark.read.parquet(s"$tmp/clean").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("text_clean")).toMap
    assert(got === Map(1L -> "alpha", 2L -> "beta", 3L -> "gamma"))
    // snapshot + serving gate: arrivals clean against the pinned hot set
    // and the accumulated log equals the batch serve
    assert(Main.run(spark, Array("snapshot-line-index",
      "--index", s"$tmp/ix", "--max-df", "2")) === 0)
    assert(spark.read.parquet(s"$tmp/ix/lines_hot.parquet").collect()
      .map(_.getString(0)).toSeq === Seq("FOOTER"))
    assert(Main.run(spark, Array("line-dedup-gate",
      "--source", s"$tmp/src", "--index", s"$tmp/ix", "--id", "doc_id",
      "--text", "text", "--dest", s"$tmp/served", "--table", "clean",
      "--checkpoint", s"$tmp/gck")) === 0)
    val gated = spark.read.parquet(s"$tmp/served/clean.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_clean")).toMap
    assert(gated === got)
    // serving an index-less store is the diagnostic, not garbage output
    intercept[RuntimeException] {
      Main.run(spark, Array("serve-line-dedup",
        "--index", s"$tmp/empty", "--id", "doc_id", "--out", s"$tmp/x"))
    }
    // gating without a snapshot names the missing refresh step
    intercept[RuntimeException] {
      Main.run(spark, Array("line-dedup-gate",
        "--source", s"$tmp/src", "--index", s"$tmp/empty", "--id", "doc_id",
        "--text", "text", "--dest", s"$tmp/served2", "--table", "clean",
        "--checkpoint", s"$tmp/gck2"))
    }
  }

  test("wordpiece-train + wordpiece-encode end to end: vocab artifact, greedy apply") {
    val tmp = Files.createTempDirectory("graft_cli_wp").toString
    Seq((1L, "hug hug hug pug pug pun bun hugs"),
        (2L, "hug pug pun pun bun hugs hugs"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("wordpiece-train",
      "--corpus", s"$tmp/corpus", "--text", "text", "--merges", "3",
      "--out", s"$tmp/vocab")) === 0)
    // re-sort after collect: parquet scan order is not write order
    val vocab = spark.read.parquet(s"$tmp/vocab")
      .select($"piece").collect().map(_.getString(0)).toSeq.sorted
    // the artifact equals the driver-side reference train over the corpus
    val wf = Seq(("hug", 4L), ("pug", 3L), ("pun", 3L), ("bun", 2L), ("hugs", 3L))
    val (refM, _) = graft.text.WordPiece.wordPieceTrainReference(wf, 3)
    val refAlphabet = wf.flatMap { case (w, _) => w.zipWithIndex.map {
      case (c, i) => if (i == 0) c.toString else "##" + c } }.distinct
    assert(vocab === (refAlphabet ++ refM.map(m =>
      graft.text.WordPiece.fuse(m.left, m.right))).distinct.sorted)
    assert(Main.run(spark, Array("wordpiece-encode",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--vocab", s"$tmp/vocab", "--out", s"$tmp/enc")) === 0)
    val got = spark.read.parquet(s"$tmp/enc")
      .filter($"doc_id" === 1L).select($"pieces").head.getSeq[String](0)
    val vset = vocab.toSet
    assert(got === Seq("hug", "hug", "hug", "pug", "pug", "pun", "bun", "hugs")
      .flatMap(w => graft.text.WordPiece.encodeWordReference(w, vset, "[UNK]", 100)))
    // the streaming gate accumulates the SAME piece arrays
    assert(Main.run(spark, Array("wordpiece-gate",
      "--source", s"$tmp/corpus", "--vocab", s"$tmp/vocab", "--id", "doc_id",
      "--text", "text", "--dest", s"$tmp/gate", "--table", "pieces",
      "--checkpoint", s"$tmp/gck")) === 0)
    val gated = spark.read.parquet(s"$tmp/gate/pieces.parquet")
      .select($"doc_id", $"pieces").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val want = spark.read.parquet(s"$tmp/enc").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(gated === want)
    // empty vocab artifact fails with the diagnostic, not garbage output
    Seq.empty[String].toDF("piece").write.parquet(s"$tmp/empty")
    intercept[RuntimeException] {
      Main.run(spark, Array("wordpiece-encode",
        "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
        "--vocab", s"$tmp/empty", "--out", s"$tmp/enc2"))
    }
    // the gate validates the artifact BEFORE the query starts
    intercept[IllegalArgumentException] {
      Main.run(spark, Array("wordpiece-gate",
        "--source", s"$tmp/corpus", "--vocab", s"$tmp/empty", "--id", "doc_id",
        "--text", "text", "--dest", s"$tmp/gate2", "--table", "pieces",
        "--checkpoint", s"$tmp/gck2"))
    }
    // bad --merges is a usage error
    assert(Main.run(spark, Array("wordpiece-train",
      "--corpus", s"$tmp/corpus", "--text", "text", "--merges", "0",
      "--out", s"$tmp/v2")) === 2)
  }

  test("train-classifier + score-docs end to end: weight artifact, bias row, label validation") {
    val tmp = Files.createTempDirectory("graft_cli_svm").toString
    Seq((1L, "good great fine good", 1L), (2L, "bad awful bad poor", -1L),
        (3L, "good fine nice", 1L), (4L, "poor bad sad awful", -1L))
      .toDF("doc_id", "text", "y").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("train-classifier",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--label", "y", "--dims", "32", "--rounds", "3",
      "--out", s"$tmp/w")) === 0)
    val w = spark.read.parquet(s"$tmp/w").select($"f", $"w_micros")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w.size === 33 && w.contains(-1L)) // 32 buckets + the bias row
    assert(Main.run(spark, Array("score-docs",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--weights", s"$tmp/w", "--out", s"$tmp/scored")) === 0)
    val scored = spark.read.parquet(s"$tmp/scored")
      .select($"doc_id", $"margin_micros", $"pred").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(scored.length === 4)
    // the persisted-weights scoring path equals the in-process one
    val model = graft.text.Classifier.LinearModel(w - (-1L), w(-1L))
    val docs = spark.read.parquet(s"$tmp/corpus")
    val feats = graft.text.Classifier.hashedTokenFeatures(docs, "doc_id", "text", 32)
    val df = graft.text.Classifier.docFeatures(feats, docs.select($"doc_id"), "doc_id")
    val direct = graft.text.Classifier.score(df, "doc_id", model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(scored.toSeq === direct.toSeq)
    // a non-±1 label column is rejected before training
    Seq((1L, "x", 2L)).toDF("doc_id", "text", "y").write.parquet(s"$tmp/bad")
    intercept[RuntimeException] {
      Main.run(spark, Array("train-classifier",
        "--corpus", s"$tmp/bad", "--id", "doc_id", "--text", "text",
        "--label", "y", "--dims", "8", "--rounds", "1", "--out", s"$tmp/w2"))
    }
    // a weight table without the bias row is rejected before scoring
    Seq((0L, 5L)).toDF("f", "w_micros").write.parquet(s"$tmp/nobias")
    intercept[RuntimeException] {
      Main.run(spark, Array("score-docs",
        "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
        "--weights", s"$tmp/nobias", "--out", s"$tmp/scored2"))
    }
  }

  test("dedup-spans + dup-span-gate: span artifacts equal the operators") {
    val tmp = Files.createTempDirectory("graft_cli_ds").toString
    val docs = Seq(
      (1L, "x1 x2 a b c d x3"),
      (2L, "y1 a b c d y2 y3"),
      (3L, "fully unique gamma document"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$tmp/corpus")
    // stats artifact
    assert(Main.run(spark, Array("dedup-spans",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--gram", "3", "--min-run", "4", "--stats", "true",
      "--out", s"$tmp/stats")) === 0)
    val stats = spark.read.parquet(s"$tmp/stats").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(stats === Map(1L -> 4L, 2L -> 4L, 3L -> 0L))
    // scrub artifact equals the operator
    assert(Main.run(spark, Array("dedup-spans",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--gram", "3", "--min-run", "4", "--out", s"$tmp/clean")) === 0)
    val clean = spark.read.parquet(s"$tmp/clean").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(clean(1L) === Seq("x1", "x2", "x3"))
    assert(clean(2L) === Seq("y1", "y2", "y3"))
    // streaming gate: arrival scrubbed against the persisted reference
    Seq((10L, "q1 a b c d q2")).toDF("doc_id", "text")
      .write.parquet(s"$tmp/arrivals")
    assert(Main.run(spark, Array("dup-span-gate",
      "--source", s"$tmp/arrivals", "--reference", s"$tmp/corpus",
      "--id", "doc_id", "--text", "text", "--gram", "3", "--min-run", "4",
      "--dest", s"$tmp/out", "--table", "clean", "--checkpoint", s"$tmp/ck")) === 0)
    val gated = new graft.sync.ParquetStore(spark, s"$tmp/out").read("clean").get
      .select($"clean_tokens").collect().map(_.getSeq[String](0)).head
    assert(gated === Seq("q1", "q2"))
    // malformed --stats is a usage error, pre-Spark
    assert(Main.run(spark, Array("dedup-spans",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--stats", "maybe", "--out", s"$tmp/x")) === 2)
  }

  test("drift + takedown commands: report artifact, erasure counts, usage errors") {
    val tmp = Files.createTempDirectory("graft_cli_drift").toString
    Seq(10L, 25L, 25L).toDF("v").write.parquet(s"$tmp/old")
    Seq(25L, 95L).toDF("v").write.parquet(s"$tmp/new")
    assert(Main.run(spark, Array("drift", "--old", s"$tmp/old",
      "--new", s"$tmp/new", "--value", "v", "--width", "10",
      "--out", s"$tmp/rep")) === 0)
    val rep = spark.read.parquet(s"$tmp/rep").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep === Map(1L -> ((1L, 0L)), 2L -> ((2L, 1L)), 9L -> ((0L, 1L))))
    // both modes at once is a usage error, pre-Spark
    assert(Main.run(spark, Array("drift", "--old", s"$tmp/old",
      "--new", s"$tmp/new", "--value", "v", "--width", "10",
      "--category", "v", "--out", s"$tmp/x")) === 2)
    // takedown through a store, with the removed-count audit on stdout
    val st = new graft.sync.ParquetStore(spark, s"$tmp/store")
    st.write(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "x"), "corpus")
    Seq(2L).toDF("doc_id").write.parquet(s"$tmp/ids")
    assert(Main.run(spark, Array("takedown", "--store", s"$tmp/store",
      "--tables", "corpus=doc_id", "--ids", s"$tmp/ids")) === 0)
    assert(st.read("corpus").get.collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(Main.run(spark, Array("takedown", "--store", s"$tmp/store",
      "--tables", "badspec", "--ids", s"$tmp/ids")) === 2)
  }

  test("ingest-span-index + serve-span-scrub: accumulated index scrubs, manifest guards k") {
    val tmp = Files.createTempDirectory("graft_cli_spi").toString
    val corpus = Seq(
      (1L, "x1 x2 a b c d x3"),
      (2L, "r1 r2 r3 q w e r t"))
      .toDF("doc_id", "text")
    corpus.repartition(2).write.parquet(s"$tmp/src")
    assert(Main.run(spark, Array("ingest-span-index",
      "--source", s"$tmp/src", "--id", "doc_id", "--text", "text",
      "--gram", "3", "--dest", s"$tmp/idx", "--checkpoint", s"$tmp/ck")) === 0)
    Seq((6L, "b1 q w e r t b2 b3"), (7L, "a b c d y1 y2 y3"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/arr")
    assert(Main.run(spark, Array("serve-span-scrub",
      "--corpus", s"$tmp/arr", "--index", s"$tmp/idx", "--id", "doc_id",
      "--text", "text", "--gram", "3", "--min-run", "4",
      "--out", s"$tmp/clean")) === 0)
    val clean = spark.read.parquet(s"$tmp/clean").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(clean(6L) === Seq("b1", "b2", "b3"))
    assert(clean(7L) === Seq("y1", "y2", "y3"))
    // a mismatched --gram is refused by the manifest on BOTH commands
    intercept[IllegalArgumentException] {
      Main.run(spark, Array("serve-span-scrub",
        "--corpus", s"$tmp/arr", "--index", s"$tmp/idx", "--id", "doc_id",
        "--text", "text", "--gram", "4", "--out", s"$tmp/clean2"))
    }
    intercept[IllegalArgumentException] {
      Main.run(spark, Array("ingest-span-index",
        "--source", s"$tmp/src", "--id", "doc_id", "--text", "text",
        "--gram", "4", "--dest", s"$tmp/idx", "--checkpoint", s"$tmp/ck2"))
    }
  }

  test("train-classifier --join + score-docs --join equal the literal-path artifacts") {
    val tmp = Files.createTempDirectory("graft_cli_svmj").toString
    Seq((1L, "good great fine good", 1L), (2L, "bad awful bad poor", -1L),
        (3L, "good fine nice", 1L), (4L, "poor bad sad awful", -1L))
      .toDF("doc_id", "text", "y").write.parquet(s"$tmp/corpus")
    for (join <- Seq("false", "true")) {
      assert(Main.run(spark, Array("train-classifier",
        "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
        "--label", "y", "--dims", "32", "--rounds", "3", "--join", join,
        "--out", s"$tmp/w_$join")) === 0)
      assert(Main.run(spark, Array("score-docs",
        "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
        "--weights", s"$tmp/w_$join", "--join", join,
        "--out", s"$tmp/s_$join")) === 0)
    }
    def readW(d: String) = spark.read.parquet(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(readW(s"$tmp/w_true") === readW(s"$tmp/w_false"))
    def readS(d: String) = spark.read.parquet(d)
      .select($"doc_id", $"margin_micros", $"pred").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(readS(s"$tmp/s_true") === readS(s"$tmp/s_false"))
    // join scoring validates the artifact distributed: no bias row -> error
    Seq((0L, 5L), (1L, 6L)).toDF("f", "w_micros").write.parquet(s"$tmp/nobias")
    intercept[RuntimeException] {
      Main.run(spark, Array("score-docs",
        "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
        "--weights", s"$tmp/nobias", "--join", "true", "--out", s"$tmp/bad"))
    }
  }

  test("train-langid --pinned stamps the artifact; langid-classify honors it") {
    val tmp = Files.createTempDirectory("graft_cli_lidp").toString
    val docs = Seq(
      (1L, "fr", "Élève Déjà Côté Être Noël Français"),
      (2L, "fr", "Déjà Élève Où Ça Été Fenêtre"),
      (3L, "de", "Über Größe Müde Schön Tür Änderung"),
      (4L, "de", "Straße Über Köln Füße Ärger Übung"))
      .toDF("doc_id", "lang", "text")
    docs.write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("train-langid",
      "--corpus", s"$tmp/corpus", "--lang", "lang", "--text", "text",
      "--k", "20", "--pinned", "true", "--out", s"$tmp/prof")) === 0)
    assert(spark.read.parquet(s"$tmp/prof")
      .select("pinned").distinct().head.getBoolean(0))
    assert(Main.run(spark, Array("langid-classify",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--profiles", s"$tmp/prof", "--out", s"$tmp/pred")) === 0)
    val pred = spark.read.parquet(s"$tmp/pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred === Map(1L -> "fr", 2L -> "fr", 3L -> "de", 4L -> "de"))
  }

  test("ingest-overlap-index + overlap-gate --max-df: accumulated raw index gates arrivals") {
    val tmp = Files.createTempDirectory("graft_cli_oii").toString
    val shared = "sigma tau upsilon phi chi psi omega kappa lambda"
    Seq((1L, s"alpha beta gamma $shared delta epsilon zeta"),
        (2L, "fully unique corpus document with no shared content at all"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$tmp/corpus")
    // corpus accumulates as RAW fps through the streaming ingest
    assert(Main.run(spark, Array("ingest-overlap-index",
      "--source", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--dest", s"$tmp/idx", "--checkpoint", s"$tmp/ick")) === 0)
    // the raw table equals a from-scratch gated build once gated at read
    val raw = spark.read.parquet(s"$tmp/idx/fps.parquet")
    val gated = graft.text.Winnow.gateIndex(raw, "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val built = graft.text.Winnow.buildOverlapIndex(
        spark.read.parquet(s"$tmp/corpus"), "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gated === built)
    Seq((10L, s"omicron pi rho $shared nu xi iota"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$tmp/src")
    assert(Main.run(spark, Array("overlap-gate",
      "--source", s"$tmp/src", "--index", s"$tmp/idx", "--id", "doc_id",
      "--text", "text", "--dest", s"$tmp/dst", "--table", "pairs",
      "--checkpoint", s"$tmp/ck", "--max-df", "100")) === 0)
    val pairs = spark.read.parquet(s"$tmp/dst/pairs.parquet")
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 1L)))
    // malformed --max-df is a usage error before any Spark job
    assert(Main.run(spark, Array("overlap-gate",
      "--source", s"$tmp/src", "--index", s"$tmp/idx", "--id", "doc_id",
      "--text", "text", "--dest", s"$tmp/dst2", "--table", "pairs",
      "--checkpoint", s"$tmp/ck2", "--max-df", "zero")) === 2)
    // a raw (lineage-stamped) accumulation WITHOUT --max-df refuses
    // rather than silently serving un-gated, duplicate-bearing rows
    intercept[RuntimeException] {
      Main.run(spark, Array("overlap-gate",
        "--source", s"$tmp/src", "--index", s"$tmp/idx", "--id", "doc_id",
        "--text", "text", "--dest", s"$tmp/dst3", "--table", "pairs",
        "--checkpoint", s"$tmp/ck3"))
    }
    // materialize the gated snapshot: the SAME gate without --max-df now
    // serves fps_gated (zero per-read gate cost) and flags the same pair
    assert(Main.run(spark, Array("snapshot-overlap-index",
      "--index", s"$tmp/idx", "--id", "doc_id")) === 0)
    assert(spark.read.parquet(s"$tmp/idx/fps_gated.parquet")
      .select($"fp", $"doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet === built)
    assert(Main.run(spark, Array("overlap-gate",
      "--source", s"$tmp/src", "--index", s"$tmp/idx", "--id", "doc_id",
      "--text", "text", "--dest", s"$tmp/dst4", "--table", "pairs",
      "--checkpoint", s"$tmp/ck4")) === 0)
    val snapPairs = spark.read.parquet(s"$tmp/dst4/pairs.parquet")
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(snapPairs === Set((10L, 1L)))
  }

  test("fuse-rrf + eval-recall end to end: fused artifact scores, recall table exact") {
    val tmp = Files.createTempDirectory("graft_cli_rrf").toString
    Seq(("q", 1L, 1L), ("q", 2L, 2L)).toDF("query_id", "doc_id", "rank")
      .write.parquet(s"$tmp/lex")
    Seq(("q", 2L, 1L), ("q", 3L, 2L)).toDF("query_id", "doc_id", "rank")
      .write.parquet(s"$tmp/vec")
    assert(Main.run(spark, Array("fuse-rrf",
      "--rankings", s"lex=$tmp/lex,vec=$tmp/vec", "--doc", "doc_id",
      "--top", "2", "--out", s"$tmp/fused")) === 0)
    val fused = spark.read.parquet(s"$tmp/fused").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(fused === Map(1L -> 2L, 2L -> 1L)) // both-source doc 2 first
    assert(Main.run(spark, Array("eval-recall",
      "--got", s"$tmp/fused", "--want", s"$tmp/lex", "--doc", "doc_id",
      "--k", "2", "--out", s"$tmp/recall")) === 0)
    val rec = spark.read.parquet(s"$tmp/recall").head
    assert((rec.getLong(1), rec.getLong(2), rec.getDouble(3)) === ((2L, 2L, 1.0)))
    // malformed rankings spec and duplicate names exit 2 before Spark work
    assert(Main.run(spark, Array("fuse-rrf",
      "--rankings", "nodir", "--doc", "doc_id", "--out", s"$tmp/x")) === 2)
    assert(Main.run(spark, Array("fuse-rrf",
      "--rankings", s"lex=$tmp/lex,lex=$tmp/vec", "--doc", "doc_id",
      "--out", s"$tmp/x2")) === 2)
  }

  test("build-bm25-index + serve-bm25 end to end: served log equals the batch retrieval") {
    import graft.text.TfIdf
    val tmp = Files.createTempDirectory("graft_cli_bm25").toString
    val docs = Seq((1L, "the rare cat"), (2L, "the cat cat"), (3L, "the dog"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("build-bm25-index",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--out", s"$tmp/idx")) === 0)
    // the manifest persists the index-build scalars
    val params = spark.read.parquet(s"$tmp/idx/params.parquet").head
    assert(params.getLong(0) === 3L)
    assert(params.getDouble(1) === 8.0 / 3)
    val queries = Seq(("qa", "cat"), ("qb", "dog"))
    queries.toDF("query_id", "qtext").coalesce(1)
      .write.mode("append").parquet(s"$tmp/queries")
    assert(Main.run(spark, Array("serve-bm25",
      "--queries", s"$tmp/queries", "--index", s"$tmp/idx", "--id", "doc_id",
      "--k", "2", "--dest", s"$tmp/dst", "--table", "served",
      "--checkpoint", s"$tmp/ck")) === 0)
    val served = spark.read.parquet(s"$tmp/dst/served.parquet")
      .select($"query_id", $"rank", $"doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = TfIdf.bm25TopK(docs, "doc_id", "text", queries, k = 2,
        corpusSize = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(served === batch)
    // missing index tables fail fast; malformed --k exits 2 pre-Spark
    intercept[RuntimeException] {
      Main.run(spark, Array("serve-bm25",
        "--queries", s"$tmp/queries", "--index", s"$tmp/empty", "--id", "doc_id",
        "--k", "2", "--dest", s"$tmp/dst2", "--table", "served",
        "--checkpoint", s"$tmp/ck2"))
    }
    assert(Main.run(spark, Array("serve-bm25",
      "--queries", s"$tmp/queries", "--index", s"$tmp/idx", "--id", "doc_id",
      "--k", "0", "--dest", s"$tmp/dst3", "--table", "served",
      "--checkpoint", s"$tmp/ck3")) === 2)
  }

  test("line-dedup: cleaned artifact equals the operator; bad max-df is a usage error") {
    val tmp = Files.createTempDirectory("graft_cli_ld").toString
    val docs = Seq(
      (1L, "FOOTER\nalpha"),
      (2L, "beta\nFOOTER"),
      (3L, "FOOTER\ngamma")).toDF("doc_id", "text")
    docs.write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("line-dedup",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--max-df", "2", "--out", s"$tmp/clean")) === 0)
    val got = spark.read.parquet(s"$tmp/clean").collect()
      .map(r => r.getLong(0) -> (r.getAs[String]("text_clean"),
        r.getAs[Long]("n_dropped"))).toMap
    assert(got === Map(1L -> (("alpha", 1L)), 2L -> (("beta", 1L)),
      3L -> (("gamma", 1L))))
    // artifact == operator (shared implementation, but pin the wiring)
    val op = graft.dedup.Dedup.lineDedup(docs, "doc_id", "text", 2L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(got === op)
    assert(Main.run(spark, Array("line-dedup",
      "--corpus", s"$tmp/corpus", "--id", "doc_id", "--text", "text",
      "--max-df", "0", "--out", s"$tmp/x")) === 2)
  }

  test("warc-extract: records and --text artifacts equal the reader; usage errors") {
    val tmp = Files.createTempDirectory("graft_cli_warc").toString
    def rec(t: String, url: String, p: String): Array[Byte] =
      graft.sources.Warc.record(t, Some(url), p.getBytes("UTF-8"))
    Seq((1L, rec("response", "http://a", "body A") ++ rec("request", "http://a", "GET")),
        (2L, rec("response", "http://b", "body B")))
      .toDF("file_id", "content").write.parquet(s"$tmp/files")
    assert(Main.run(spark, Array("warc-extract",
      "--files", s"$tmp/files", "--out", s"$tmp/recs")) === 0)
    assert(spark.read.parquet(s"$tmp/recs").count() === 3)
    assert(Main.run(spark, Array("warc-extract",
      "--files", s"$tmp/files", "--text", "true", "--out", s"$tmp/txt")) === 0)
    val texts = spark.read.parquet(s"$tmp/txt").collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(texts === Map("http://a" -> "body A", "http://b" -> "body B"))
    assert(Main.run(spark, Array("warc-extract", "--out", s"$tmp/x")) === 2)
  }

  test("embed-decontaminate + embed-decon-gate: flags/scrub equal the operator") {
    val tmp = Files.createTempDirectory("graft_cli_edc").toString
    Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .write.parquet(s"$tmp/bench")
    val corpus = Seq((1L, Array(2.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    corpus.write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("embed-decontaminate",
      "--corpus", s"$tmp/corpus", "--benchmark", s"$tmp/bench",
      "--id", "vec_id", "--vec", "embedding", "--threshold", "0.95",
      "--out", s"$tmp/flags")) === 0)
    assert(spark.read.parquet(s"$tmp/flags").collect().map(_.getLong(0)).toSeq
      === Seq(1L))
    assert(Main.run(spark, Array("embed-decontaminate",
      "--corpus", s"$tmp/corpus", "--benchmark", s"$tmp/bench",
      "--id", "vec_id", "--vec", "embedding", "--threshold", "0.95",
      "--scrub", "true", "--out", s"$tmp/clean")) === 0)
    assert(spark.read.parquet(s"$tmp/clean").collect().map(_.getLong(0)).toSeq
      === Seq(2L))
    // gate: same decision accumulated through the store
    assert(Main.run(spark, Array("embed-decon-gate",
      "--source", s"$tmp/corpus", "--benchmark", s"$tmp/bench",
      "--id", "vec_id", "--vec", "embedding", "--threshold", "0.95",
      "--dest", s"$tmp/store", "--table", "flags",
      "--checkpoint", s"$tmp/ck")) === 0)
    assert(spark.read.parquet(s"$tmp/store/flags.parquet").select("vec_id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // threshold outside [0,1] is a usage error
    assert(Main.run(spark, Array("embed-decontaminate",
      "--corpus", s"$tmp/corpus", "--benchmark", s"$tmp/bench",
      "--id", "vec_id", "--vec", "embedding", "--threshold", "1.5",
      "--out", s"$tmp/x")) === 2)
  }

  test("chat-render: rendered text, --spans alignment, --max-tokens drop + fitted messages") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft_cli_chat").toString
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("msgs", ArrayType(StructType(Seq(
        StructField("role", StringType), StructField("content", StringType)))))))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      // 2nd turn null: under --max-tokens the fitted array compacts it out
      Row(1L, Seq(Row("user", "a b"), null, Row("assistant", "ok then"))),
      Row(2L, Seq(Row("user", "way too long prompt here to fit"))))), schema)
      .write.parquet(s"$tmp/conv")
    assert(Main.run(spark, Array("chat-render", "--conversations", s"$tmp/conv",
      "--id", "id", "--messages", "msgs", "--out", s"$tmp/plain")) === 0)
    val plain = spark.read.parquet(s"$tmp/plain").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("rendered")).toMap
    assert(plain(1L) === "<|user|>\na b<|end|>\n<|assistant|>\nok then<|end|>\n")
    assert(!spark.read.parquet(s"$tmp/plain").columns.contains("messages"))
    // budget: doc 2 has no in-budget assistant turn and drops; doc 1's
    // output carries the FITTED messages array its span turn indexes
    // refer to (the source array's index 2 compacts to 1)
    assert(Main.run(spark, Array("chat-render", "--conversations", s"$tmp/conv",
      "--id", "id", "--messages", "msgs", "--spans", "true",
      "--max-tokens", "4", "--out", s"$tmp/fit")) === 0)
    val fit = spark.read.parquet(s"$tmp/fit").collect()
    assert(fit.map(_.getAs[Long]("id")).toSeq === Seq(1L))
    val row = fit.head
    val msgs = row.getSeq[Row](row.fieldIndex("messages"))
    val spans = row.getSeq[Row](row.fieldIndex("loss_spans"))
    assert(msgs.map(m => (m.getString(0), m.getString(1)))
      === Seq(("user", "a b"), ("assistant", "ok then")))
    assert(spans.map(_.getInt(0)) === Seq(1)) // indexes the FITTED array
    assert(row.getAs[String]("rendered").substring(
      spans.head.getLong(1).toInt, spans.head.getLong(2).toInt) === "ok then")
    // a garbage budget is a usage error
    assert(Main.run(spark, Array("chat-render", "--conversations", s"$tmp/conv",
      "--id", "id", "--messages", "msgs", "--max-tokens", "-3",
      "--out", s"$tmp/x")) === 2)
    // --token-masks adds the token-index intervals without --spans:
    // doc 1 renders user|a|b|end|assistant|ok|then|end -> 'ok then' = [5,7)
    assert(Main.run(spark, Array("chat-render", "--conversations", s"$tmp/conv",
      "--id", "id", "--messages", "msgs", "--token-masks", "true",
      "--out", s"$tmp/tok")) === 0)
    val tok = spark.read.parquet(s"$tmp/tok")
    assert(!tok.columns.contains("loss_spans"))
    val masks = tok.filter(tok("id") === 1L).head
      .getSeq[Row](tok.columns.indexOf("token_masks"))
      .map(m => (m.getLong(1), m.getLong(2)))
    assert(masks === Seq((5L, 7L)))
  }

  test("chat-lint: counters, --failed-only queue, usage errors") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft_cli_lint").toString
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("msgs", ArrayType(StructType(Seq(
        StructField("role", StringType), StructField("content", StringType)))))))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Seq(Row("user", "hi"), Row("assistant", "yo"))),
      Row(2L, Seq(Row("user", "a"), Row("user", "b"), Row("assistant", "c"))),
      // NULL messages array: the most-broken shape — must reach the
      // failure queue, not vanish behind !NULL
      Row(3L, null))),
      schema).write.parquet(s"$tmp/conv")
    assert(Main.run(spark, Array("chat-lint", "--conversations", s"$tmp/conv",
      "--id", "id", "--messages", "msgs", "--out", s"$tmp/all")) === 0)
    val all = spark.read.parquet(s"$tmp/all").collect()
      .map(r => r.getAs[Long]("id") ->
        (Option(r.getAs[java.lang.Boolean]("passed")),
          Option(r.getAs[java.lang.Integer]("same_role_pairs")))).toMap
    assert(all === Map(
      1L -> ((Some(true), Some(0))), 2L -> ((Some(false), Some(1))),
      3L -> ((None, None))))
    assert(Main.run(spark, Array("chat-lint", "--conversations", s"$tmp/conv",
      "--id", "id", "--messages", "msgs", "--failed-only", "true",
      "--out", s"$tmp/bad")) === 0)
    assert(spark.read.parquet(s"$tmp/bad").collect()
      .map(_.getAs[Long]("id")).toSet === Set(2L, 3L))
    assert(Main.run(spark, Array("chat-lint", "--conversations", s"$tmp/conv",
      "--id", "id", "--out", s"$tmp/x")) === 2) // --messages missing
  }

  test("sitemap-entries: exploded entries, --kind filter, usage errors") {
    val tmp = Files.createTempDirectory("graft_cli_sm").toString
    Seq(
      (1L, "<urlset><url><loc>http://a/1</loc></url>" +
        "<url><loc>http://a/2</loc><lastmod>2026-01-01</lastmod></url></urlset>"),
      (2L, "<sitemapindex><sitemap><loc>http://a/sm.xml</loc></sitemap></sitemapindex>"))
      .toDF("id", "xml").write.parquet(s"$tmp/maps")
    assert(Main.run(spark, Array("sitemap-entries", "--sitemaps", s"$tmp/maps",
      "--id", "id", "--xml", "xml", "--out", s"$tmp/all")) === 0)
    assert(spark.read.parquet(s"$tmp/all").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("kind"),
        r.getAs[String]("loc"))).toSet ===
      Set((1L, "url", "http://a/1"), (1L, "url", "http://a/2"),
        (2L, "sitemap", "http://a/sm.xml")))
    assert(Main.run(spark, Array("sitemap-entries", "--sitemaps", s"$tmp/maps",
      "--id", "id", "--xml", "xml", "--kind", "sitemap",
      "--out", s"$tmp/subs")) === 0)
    assert(spark.read.parquet(s"$tmp/subs").collect()
      .map(_.getAs[String]("loc")).toSeq === Seq("http://a/sm.xml"))
    assert(Main.run(spark, Array("sitemap-entries", "--sitemaps", s"$tmp/maps",
      "--id", "id", "--xml", "xml", "--kind", "page",
      "--out", s"$tmp/x")) === 2) // not url|sitemap
  }

  test("preference-pairs: mined pairs, --min-margin gate, usage errors") {
    val tmp = Files.createTempDirectory("graft_cli_pref").toString
    Seq((1L, 10L, "bad", 1.0), (1L, 11L, "best", 9.0),
      (2L, 20L, "a", 5.0), (2L, 21L, "b", 4.0))
      .toDF("prompt_id", "completion_id", "completion", "score")
      .write.parquet(s"$tmp/rollouts")
    assert(Main.run(spark, Array("preference-pairs",
      "--rollouts", s"$tmp/rollouts", "--prompt", "prompt_id",
      "--id", "completion_id", "--text", "completion", "--score", "score",
      "--out", s"$tmp/pairs")) === 0)
    assert(spark.read.parquet(s"$tmp/pairs").collect()
      .map(r => (r.getAs[Long]("prompt_id"), r.getAs[String]("chosen"),
        r.getAs[String]("rejected"))).toSet ===
      Set((1L, "best", "bad"), (2L, "a", "b")))
    assert(Main.run(spark, Array("preference-pairs",
      "--rollouts", s"$tmp/rollouts", "--prompt", "prompt_id",
      "--id", "completion_id", "--text", "completion", "--score", "score",
      "--min-margin", "3", "--out", s"$tmp/gated")) === 0)
    assert(spark.read.parquet(s"$tmp/gated").collect()
      .map(_.getAs[Long]("prompt_id")).toSeq === Seq(1L))
    assert(Main.run(spark, Array("preference-pairs",
      "--rollouts", s"$tmp/rollouts", "--prompt", "prompt_id",
      "--id", "completion_id", "--text", "completion", "--score", "score",
      "--min-margin", "-2", "--out", s"$tmp/x")) === 2)
  }

  test("group-advantage: integer-exact numerators per rollout") {
    val tmp = Files.createTempDirectory("graft_cli_ga").toString
    Seq((1L, 1L, 2.0), (1L, 2L, 4.0), (1L, 3L, 9.0))
      .toDF("prompt_id", "completion_id", "score")
      .write.parquet(s"$tmp/rollouts")
    assert(Main.run(spark, Array("group-advantage",
      "--rollouts", s"$tmp/rollouts", "--prompt", "prompt_id",
      "--id", "completion_id", "--score", "score",
      "--out", s"$tmp/adv")) === 0)
    val got = spark.read.parquet(s"$tmp/adv").collect()
      .map(r => r.getAs[Long]("completion_id") ->
        (r.getAs[Double]("adv_num"), r.getAs[Double]("var_num"))).toMap
    assert(got === Map(1L -> ((-9.0, 78.0)), 2L -> ((-3.0, 78.0)),
      3L -> ((12.0, 78.0))))
    assert(Main.run(spark, Array("group-advantage",
      "--rollouts", s"$tmp/rollouts", "--prompt", "prompt_id",
      "--out", s"$tmp/x")) === 2) // --id/--score required
  }

  test("bitext-mine: mutual-best pairs under the ratio margin") {
    val tmp = Files.createTempDirectory("graft_cli_bt").toString
    Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/src")
    Seq((1L, Array(0.99f, 0.1f)), (2L, Array(0.1f, 0.99f)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/tgt")
    assert(Main.run(spark, Array("bitext-mine", "--src", s"$tmp/src",
      "--tgt", s"$tmp/tgt", "--id", "vec_id", "--vec", "embedding",
      "--k", "2", "--margin-micros", "0", "--out", s"$tmp/pairs")) === 0)
    assert(spark.read.parquet(s"$tmp/pairs").collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("tgt_id"))).toSet
      === Set((1L, 1L), (2L, 2L)))
    assert(Main.run(spark, Array("bitext-mine", "--src", s"$tmp/src",
      "--tgt", s"$tmp/tgt", "--id", "vec_id", "--vec", "embedding",
      "--k", "0", "--out", s"$tmp/x")) === 2) // k must be positive
  }

  test("preference-ingest: maintained state derives the same pairs via --from-state") {
    val tmp = Files.createTempDirectory("graft_cli_pi").toString
    Seq((1L, 10L, "bad", 1.0), (1L, 11L, "best", 9.0),
      (2L, 20L, "a", 5.0), (2L, 21L, "b", 5.0)) // prompt 2 all-tie: no pair
      .toDF("prompt_id", "completion_id", "completion", "score")
      .write.parquet(s"$tmp/rollouts")
    assert(Main.run(spark, Array("preference-ingest",
      "--source", s"$tmp/rollouts", "--prompt", "prompt_id",
      "--id", "completion_id", "--text", "completion", "--score", "score",
      "--dest", s"$tmp/store", "--table", "prefs",
      "--checkpoint", s"$tmp/ck")) === 0)
    assert(Main.run(spark, Array("preference-pairs",
      "--rollouts", s"$tmp/store/prefs.parquet", "--from-state", "true",
      "--prompt", "prompt_id", "--out", s"$tmp/pairs")) === 0)
    assert(spark.read.parquet(s"$tmp/pairs").collect()
      .map(r => (r.getAs[Long]("prompt_id"), r.getAs[String]("chosen"),
        r.getAs[String]("rejected"))).toSeq === Seq((1L, "best", "bad")))
    // without --from-state, the rollout column names are still required
    assert(Main.run(spark, Array("preference-pairs",
      "--rollouts", s"$tmp/rollouts", "--prompt", "prompt_id",
      "--out", s"$tmp/x")) === 2)
  }

  test("robots-filter: survivors and --decisions artifacts equal the operator") {
    val tmp = Files.createTempDirectory("graft_cli_rob").toString
    Seq(("h", "User-agent: *\nDisallow: /private"))
      .toDF("host", "robots_txt").write.parquet(s"$tmp/robots")
    Seq((1L, "h", "/private/x"), (2L, "h", "/ok"), (3L, "bare", "/private/x"))
      .toDF("id", "host", "path").write.parquet(s"$tmp/urls")
    assert(Main.run(spark, Array("robots-filter",
      "--urls", s"$tmp/urls", "--robots", s"$tmp/robots", "--agent", "graftbot",
      "--host", "host", "--path", "path", "--out", s"$tmp/kept")) === 0)
    assert(spark.read.parquet(s"$tmp/kept").collect()
      .map(_.getAs[Long]("id")).toSet === Set(2L, 3L))
    assert(Main.run(spark, Array("robots-filter",
      "--urls", s"$tmp/urls", "--robots", s"$tmp/robots", "--agent", "graftbot",
      "--host", "host", "--path", "path", "--decisions", "true",
      "--out", s"$tmp/dec")) === 0)
    val dec = spark.read.parquet(s"$tmp/dec").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("allowed")).toMap
    assert(dec === Map(1L -> false, 2L -> true, 3L -> true))
  }

  test("cluster-balance: trained assignment + cap artifact carries the cluster column") {
    val tmp = Files.createTempDirectory("graft_cli_cb").toString
    // two tight planted topics far apart: any 2-means training separates them
    val rows = (0 until 8).map(i => (i.toLong, Array(10.0f + i % 2, 0.1f * i))) ++
      (10 until 13).map(i => (i.toLong, Array(-10.0f, 5.0f + 0.1f * i)))
    rows.toDF("vec_id", "embedding").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Array("cluster-balance",
      "--corpus", s"$tmp/corpus", "--id", "vec_id", "--vec", "embedding",
      "--centroids", "2", "--cap", "4", "--out", s"$tmp/bal")) === 0)
    val got = spark.read.parquet(s"$tmp/bal")
    assert(got.columns.contains("cluster"))
    val byCluster = got.collect().map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("vec_id"))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // the 8-row topic capped to its 4 LOWEST ids; the 3-row topic whole
    assert(byCluster.values.toSet === Set(Seq(0L, 1L, 2L, 3L), Seq(10L, 11L, 12L)))
  }

  test("CLI-only subcommands: each artifact equals a direct operator call; a missing required flag exits 2") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, explode, expr, when}
    val tmp = Files.createTempDirectory("graft_cli_pin").toString
    def in(name: String) = s"$tmp/in/$name"
    def read(name: String) = spark.read.parquet(in(name))
    Seq((1L, "a", 1L, 3L, 2L, "x y z w x y"), (2L, "a", 2L, 4L, 1L, "x y z q"),
        (3L, "b", 1L, 5L, 1L, "x y z w p r"), (4L, "b", 2L, 2L, 3L, "cafÃ© one. Two here!"))
      .toDF("id", "src", "ord", "tok", "pri", "text").write.parquet(in("docs"))
    Seq(("n", "x", 1L), ("n", "x", 2L), ("m", "y", 3L))
      .toDF("a", "b", "id").write.parquet(in("people"))
    Seq((1L, "http://h.com/d/p", """<a href="/x">x</a> <a href="q?b=1">q</a>"""))
      .toDF("id", "url", "html").write.parquet(in("pages"))
    Seq(("h.com", "User-agent: *\nSitemap: http://h.com/s.xml"))
      .toDF("host", "robots_txt").write.parquet(in("robots"))
    Seq((1L, "http://H.com/a"), (2L, "http://h.com/a"), (3L, "not a url"),
        (4L, "http://g.org/b"))
      .toDF("id", "url").write.parquet(in("urls"))
    Seq((1L, "a")).toDF("id", "v").write.parquet(in("old"))
    Seq(("1", "a", 2.0)).toDF("id", "v", "w").write.parquet(in("new"))
    def avi(levels: Seq[Int]): Array[Byte] = {
      def le32(v: Int): Array[Byte] =
        Array(v, v >> 8, v >> 16, v >> 24).map(x => (x & 0xff).toByte)
      def chunk(cid: String, data: Array[Byte]): Array[Byte] =
        cid.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
          (if ((data.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])
      def jpeg(g: Int): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(16, 16,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, g * 0x010101)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        bos.toByteArray
      }
      "RIFF".getBytes("US-ASCII") ++ le32(0) ++ "AVI ".getBytes("US-ASCII") ++
        chunk("LIST", "movi".getBytes("US-ASCII") ++
          levels.flatMap(g => chunk("00dc", jpeg(g))).toArray)
    }
    Seq((7L, avi(Seq(20, 220, 220, 20)))).toDF("doc_id", "media")
      .write.parquet(in("video"))

    // (args, the flag dropped for the exit-2 check, the direct operator call)
    val pins: Seq[(Seq[String], String, () => DataFrame)] = Seq(
      (Seq("budget-mixture", "--corpus", in("docs"), "--source", "src",
        "--order", "ord", "--tokens", "tok", "--weights", "a=1,b=1",
        "--budget", "6"), "budget",
        () => graft.operators.Sampling.budgetMixture(read("docs"), "src", "ord",
          "tok", Map("a" -> 1L, "b" -> 1L), 6L)),
      (Seq("curriculum-order", "--corpus", in("docs"), "--id", "id",
        "--priority", "pri", "--rows-per-shard", "2", "--seed", "s"), "priority",
        () => graft.operators.Sampling.curriculumShuffle(read("docs"), "id",
          "pri", "s", 2L)),
      (Seq("data-card", "--corpus", in("docs"), "--group", "src", "--id", "id",
        "--text", "text"), "group",
        () => graft.text.TextAnalysis.dataCard(read("docs"), "src", "id", "text")),
      (Seq("fix-mojibake", "--corpus", in("docs"), "--id", "id",
        "--text", "text"), "text",
        () => read("docs").select(col("id"),
          graft.functions.FixMojibake(col("text")).as("fixed"),
          when(graft.functions.FixMojibake(col("text")) =!= col("text"), 1L)
            .otherwise(0L).as("repaired"))),
      (Seq("k-anonymity", "--corpus", in("people"), "--quasi", "a,b",
        "--k", "2"), "quasi",
        () => graft.operators.Expectations.kAnonymity(read("people"),
          Seq("a", "b"), 2L)),
      (Seq("outlinks", "--pages", in("pages"), "--id", "id", "--html", "html",
        "--url", "url"), "url",
        () => read("pages")
          .select(col("id"), col("url"),
            explode(graft.text.Html.outlinks(col("html"))).as("href"))
          .select(col("id"), graft.functions.UrlNormalize(
            graft.functions.UrlResolve(col("url"), col("href"))).as("dst"))
          .filter(col("dst").isNotNull)),
      (Seq("robots-sitemaps", "--robots", in("robots"), "--host", "host"), "host",
        () => graft.operators.Robots.sitemaps(read("robots"), "host", "robots_txt")),
      (Seq("scene-cuts", "--corpus", in("video")), "corpus",
        () => graft.multimodal.Multimodal.sceneCuts(
          graft.multimodal.Multimodal.decodeFramesOf(read("video"))(spark).toDF(),
          100000L)),
      (Seq("schema-drift", "--old", in("old"), "--new", in("new")), "new",
        () => graft.sync.Diff.schemaDiff(read("old"), read("new"))),
      (Seq("sentences", "--corpus", in("docs"), "--id", "id", "--text", "text"), "id",
        () => graft.text.TextAnalysis.sentences(read("docs"), "id", "text")),
      (Seq("source-overlap", "--corpus", in("docs"), "--source", "src",
        "--text", "text", "--gram", "2"), "source",
        () => graft.dedup.Dedup.sourceOverlapMatrix(read("docs"), "src", "text", 2)),
      (Seq("span-gate-loss", "--corpus", in("docs"), "--id", "id", "--text", "text",
        "--gram", "2", "--min-run", "2", "--max-df", "2"), "text",
        () => graft.dedup.Decontaminate.spanGateLoss(read("docs"), "id", "text",
          2, 2, 2)),
      (Seq("token-shards", "--corpus", in("docs"), "--tokens", "tok",
        "--order", "id", "--bucket-width", "2", "--shards", "2"), "shards",
        () => graft.operators.Sampling.tokenBalancedShards(read("docs"), "tok",
          expr("`id` div 2"), Seq(col("id")), 2)),
      (Seq("warc-export", "--corpus", in("docs"), "--file-col", "ord",
        "--id", "id", "--text", "text", "--date", "2026-01-01T00:00:00Z"), "date",
        () => graft.sources.Warc.export(read("docs"), "ord", "id", "text", None,
          "2026-01-01T00:00:00Z")(spark)))

    def sameRows(got: DataFrame, want: DataFrame): Unit = {
      assert(got.columns.toSeq === want.columns.toSeq)
      assert(got.count() > 0, "a pin over an empty artifact pins nothing")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
    def without(args: Seq[String], flag: String): Array[String] = {
      val i = args.indexOf(s"--$flag")
      assert(i > 0)
      (args.take(i) ++ args.drop(i + 2)).toArray
    }
    for ((args, required, direct) <- pins) withClue(args.head + ": ") {
      val out = s"$tmp/out/${args.head}"
      assert(Main.run(spark, (args ++ Seq("--out", out)).toArray) === 0)
      sameRows(spark.read.parquet(out), direct())
      assert(Main.run(spark, without(args :+ "--out" :+ s"$tmp/x", required)) === 2)
    }

    // url-frontier is a streaming gate: compare its store with the same
    // gate started directly over the same source
    val frontier = Seq("url-frontier", "--source", in("urls"), "--id", "id",
      "--url", "url", "--dest", s"$tmp/frontier", "--table", "seen",
      "--checkpoint", s"$tmp/ck_frontier", "--max-per-host", "1")
    assert(Main.run(spark, frontier.toArray) === 0)
    graft.streaming.IncrementalStream.frontierGate(
      spark.readStream.schema(read("urls").schema).parquet(in("urls")),
      "id", "url", new graft.sync.ParquetStore(spark, s"$tmp/direct"), "seen",
      s"$tmp/ck_direct", maxPerHost = Some(1L)).awaitTermination()
    sameRows(spark.read.parquet(s"$tmp/frontier/seen.parquet"),
      spark.read.parquet(s"$tmp/direct/seen.parquet"))
    assert(Main.run(spark, without(frontier, "url")) === 2)
  }

  test("a flag the usage line does not declare, or a repeated flag, is a usage error") {
    val tmp = Files.createTempDirectory("graft_cli_flags").toString
    // a missing source drains nothing and exits 0, so only flag
    // validation can turn these invocations into usage errors
    val gate = Seq("ingest-dedup", "--source", s"$tmp/none", "--index", s"$tmp/idx",
      "--id", "id", "--text", "text", "--ngram", "1", "--num", "9", "--den", "10",
      "--hashes", "20", "--bands", "5", "--dest", s"$tmp/gate", "--table", "rejects",
      "--checkpoint", s"$tmp/ck")
    assert(Main.run(spark, (gate ++ Seq("--tombstones", "true")).toArray) === 0)
    // misspelt optional flag: would run the gate without tombstones
    assert(Main.run(spark, (gate ++ Seq("--tombstone", "true")).toArray) === 2)
    // repeated flag: would silently take the last value
    assert(Main.run(spark, (gate ++ Seq("--table", "other")).toArray) === 2)
    assert(Main.run(spark, (gate ++ Seq("--tombstones", "true", "--tombstones", "false"))
      .toArray) === 2)
    // a flag of a sibling command is not a flag of this one
    assert(Main.run(spark, Array("winnow", "--corpus", s"$tmp/none", "--id", "id",
      "--text", "text", "--out", s"$tmp/out", "--min-shared", "2")) === 2)
    val src = Files.createTempDirectory("graft_cli_flags_fs")
    assert(Main.run(spark, Array("file-sync", src.toString, s"$tmp/fs",
      "--apply", "--apply")) === 2)
    assert(Main.run(spark, Array("file-sync", src.toString, s"$tmp/fs",
      "--force", "true")) === 2)
  }

  test("db-sync --pks trims its column lists") {
    val srcDir = Files.createTempDirectory("graft_cli_pks_src").toString
    val dstDir = Files.createTempDirectory("graft_cli_pks_dst").toString
    // two rows share id: only the (id, v) key keeps both
    Seq((1L, "a"), (1L, "b"), (2L, "a")).toDF("id", "v")
      .write.parquet(s"$srcDir/t.parquet")
    val cfgPath = Files.createTempFile("graft_cli_pks", ".yaml")
    Files.writeString(cfgPath,
      "tables:\n  t:\n    sync_config:\n      check_column: id\n      check_type: id\n")
    assert(Main.run(spark, Array("db-sync", "--config", cfgPath.toString,
      "--source", srcDir, "--dest", dstDir, "--pks", "t=id, v")) === 0)
    assert(spark.read.parquet(s"$dstDir/t.parquet").as[(Long, String)].collect()
      .toSet === Set((1L, "a"), (1L, "b"), (2L, "a")))
  }

  test("every graft.cli.Main example in README.md parses without a usage error") {
    val lines = Files.readString(java.nio.file.Paths.get("README.md"))
      .replace("\\\n", " ").linesIterator
      .map(_.trim).filter(_.startsWith("graft.cli.Main ")).toSeq
    assert(lines.nonEmpty)
    for (line <- lines) {
      val args = line.split("\\s+").toList.drop(1)
      assert(Main.parse(args).isRight, s"usage error: $line -> ${Main.parse(args)}")
    }
  }
}
