package graft.sync

import graft.SparkSpec
import graft.config.{CheckType, TableConfig}
import graft.operators.Watermark
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

/** ParquetStore.write and append: each call stages into a directory of
  * its own, commits it by one rename, then rolls it forward; a stop at any
  * step leaves the old contents or all of the new ones. `read` and
  * `watermark` answer from the parquet footers without a Spark job, and
  * agree with Spark's schema inference and MAX aggregate. */
class ParquetStoreSpec extends SparkSpec {
  import spark.implicits._

  /** `f`'s result and the number of Spark jobs it started. */
  private def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.tag") == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", tag)
    try {
      val a = f
      org.apache.spark.TestBus.drain(sc)
      (a, jobs.get)
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The watermark's schema, rows and value classes, beside those of MAX
    * over Spark's own read. */
  private def bothMax(store: ParquetStore, dir: String, table: String, c: String) =
    (shape(store.watermark(table, c).get),
      shape(Watermark.maxOf(spark.read.parquet(s"$dir/$table.parquet"), c)))

  /** A frame's schema, rows and value classes. */
  private def shape(df: DataFrame) = {
    val rows = df.collect().toSeq
    (df.schema, rows, rows.flatMap(_.toSeq.map(v => Option(v).map(_.getClass))))
  }

  private def ids(lo: Long, hi: Long) = spark.range(lo, hi + 1).toDF("id")

  private def tableFiles(dir: String): Set[String] = {
    val p = new Path(s"$dir/t.parquet")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).toSet
  }

  test("append creates a missing table, even from an empty frame") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    store.append(ids(1, 0), "t")
    assert(store.read("t").get.columns.toSeq === Seq("id"))
    assert(store.read("t").get.count() === 0)
    store.append(ids(1, 5), "t")
    assert(store.read("t").get.as[Long].collect().sorted.toSeq === (1L to 5L))
  }

  test("an empty append adds no file and leaves no staging directory") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    store.append(ids(1, 5), "t")
    val before = tableFiles(dir)
    store.append(ids(1, 0), "t")
    store.append(ids(1, 100).filter($"id" < 0).repartition(3), "t")
    assert(tableFiles(dir) === before)
    assert(new java.io.File(dir).list().toSet === Set("t.parquet"))
  }

  test("a job failing mid-write leaves the table and the store directory as they were") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    store.append(ids(1, 5), "t")
    val before = tableFiles(dir)
    // the other partitions' tasks write their files into the staging
    // directory before the failing task aborts the job
    val failing = ids(100, 199).repartition(4)
      .withColumn("id", when(col("id") === 150, raise_error(lit("injected"))).otherwise(col("id")))
    intercept[Exception](store.append(failing, "t"))
    assert(tableFiles(dir) === before)
    assert(store.read("t").get.count() === 5)
    assert(new java.io.File(dir).list().toSet === Set("t.parquet"))
  }

  test("a write stopped after any swap step leaves the old or the new table, never none") {
    for (k <- 0 to 4; next <- Seq("read", "append", "write")) {
      val dir = Files.createTempDirectory("graft_store").toString
      val store = new ParquetStore(spark, dir)
      store.write(ids(1, 5), "t")
      // the commit, the old table's deletion, the marker's, the rename
      assert(store.commitSteps(ids(11, 13), "t", replace = true, k) === 4, s"k=$k $next")
      val landed = if (k < 1) 1L to 5L else 11L to 13L
      // a fresh store stands for the process that runs after the crash
      val fresh = new ParquetStore(spark, dir)
      val want = next match {
        case "read"   => landed
        case "append" => fresh.append(ids(20, 21), "t"); landed ++ (20L to 21L)
        case "write"  => fresh.write(ids(30, 31), "t"); 30L to 31L
      }
      val got = fresh.read("t")
      assert(got.isDefined, s"k=$k $next: no table")
      assert(got.get.as[Long].collect().sorted.toSeq === want, s"k=$k $next")
      if (next != "read") assert(new java.io.File(dir).list().toSet === Set("t.parquet"), s"k=$k $next")
    }
  }

  test("an append stopped after staging, the commit or any file move leaves the old rows or all of them") {
    for (k <- 0 to 5; next <- Seq("read", "append", "write")) {
      val dir = Files.createTempDirectory("graft_store").toString
      val store = new ParquetStore(spark, dir)
      store.write(ids(1, 5), "t")
      val before = tableFiles(dir)
      // one partition dealt round-robin into five: three files hold rows
      val delta = spark.range(11, 14, 1, 1).toDF("id").repartition(5)
      // the commit, three file moves, the landing directory's deletion
      assert(store.commitSteps(delta, "t", replace = false, k) === 5, s"k=$k $next")
      val landed = if (k < 1) 1L to 5L else (1L to 5L) ++ (11L to 13L)
      // a fresh store stands for the process that runs after the crash
      val fresh = new ParquetStore(spark, dir)
      val want = next match {
        case "read"   => landed
        case "append" => fresh.append(ids(20, 21), "t"); landed ++ (20L to 21L)
        case "write"  => fresh.write(ids(30, 31), "t"); 30L to 31L
      }
      assert(fresh.read("t").get.as[Long].collect().sorted.toSeq === want, s"k=$k $next")
      assert(new java.io.File(dir).list().toSet === Set("t.parquet"), s"k=$k $next")
      if (next == "read") assert((tableFiles(dir) -- before).size === (if (k < 1) 0 else 3), s"k=$k")
    }
  }

  test("a stranded landing directory lands only its own table's rows") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    store.append(ids(1, 5), "t")
    store.append(ids(101, 105), "t_x")
    // each append stops right after its commit
    store.commitSteps(ids(6, 8), "t", replace = false, 1)
    store.commitSteps(ids(106, 108), "t_x", replace = false, 1)
    val fresh = new ParquetStore(spark, dir)
    assert(fresh.read("t").get.as[Long].collect().sorted.toSeq === (1L to 8L))
    assert(new java.io.File(dir).list().toSet === Set("t.parquet", "t_x.parquet", ".landing_t_x.parquet"))
    assert(fresh.read("t_x").get.as[Long].collect().sorted.toSeq === (101L to 108L))
    assert(fresh.read("t").get.count() === 8)
    assert(new java.io.File(dir).list().toSet === Set("t.parquet", "t_x.parquet"))
  }

  test("watermark alone lands a stranded landing directory and counts its rows, with no job") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    store.append(ids(1, 5), "t")
    store.commitSteps(ids(6, 9).repartition(2), "t", replace = false, 1)
    val (wm, jobs) = jobsOf(Watermark.idOf(new ParquetStore(spark, dir).watermark("t", "id").get))
    assert((wm, jobs) === ((9L, 0)))
    assert(new java.io.File(dir).list().toSet === Set("t.parquet"))
    assert(store.read("t").get.as[Long].collect().sorted.toSeq === (1L to 9L))
  }

  test("watermark alone lands a stranded write and reads the new table's footers, with no job") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    store.write(ids(1, 20).repartition(2), "t")
    // the write stops right after its commit; the old table's MAX is higher
    store.commitSteps(ids(11, 13).repartition(2), "t", replace = true, 1)
    val (wm, jobs) = jobsOf(Watermark.idOf(new ParquetStore(spark, dir).watermark("t", "id").get))
    assert((wm, jobs) === ((13L, 0)))
    assert(new java.io.File(dir).list().toSet === Set("t.parquet"))
    assert(store.read("t").get.as[Long].collect().sorted.toSeq === (11L to 13L))
  }

  test("every kind of commit stopped after any step leaves the old or the new contents, whole") {
    // (case, old rows, df, replace, new rows); None is no table
    val some = (lo: Long, hi: Long) => Some(lo to hi)
    val cases = Seq(
      ("write to a missing table", None, ids(11, 13), true, some(11, 13)),
      ("write over a table", some(1, 5), ids(11, 13).repartition(2), true, some(11, 13)),
      ("append creating a table", None, ids(11, 13).repartition(2), false, some(11, 13)),
      ("append to a table", some(1, 5), ids(11, 13).repartition(2), false,
        Some((1L to 5L) ++ (11L to 13L))),
      ("all-empty append", some(1, 5), ids(1, 100).filter($"id" < 0).repartition(3), false, some(1, 5)))
    for ((name, old, df, replace, after) <- cases) {
      def attempt(k: Int): Int = {
        var n = 0
        for (next <- Seq("read", "watermark", "append", "write")) {
          val dir = Files.createTempDirectory("graft_store").toString
          val store = new ParquetStore(spark, dir)
          old.foreach(rows => store.write(ids(rows.head, rows.last), "t"))
          n = store.commitSteps(df, "t", replace, k)
          val landed = if (k < 1) old else after
          // a fresh store stands for the process that runs after the crash
          val fresh = new ParquetStore(spark, dir)
          val want = next match {
            case "read" | "watermark" => landed
            case "append" => fresh.append(ids(20, 21), "t"); Some(landed.getOrElse(Nil) ++ (20L to 21L))
            case "write"  => fresh.write(ids(30, 31), "t"); some(30, 31)
          }
          if (next == "watermark")
            assert(fresh.watermark("t", "id").map(Watermark.idOf) === want.map(_.max), s"$name k=$k")
          assert(fresh.read("t").map(_.as[Long].collect().sorted.toSeq) === want, s"$name k=$k $next")
          assert(new java.io.File(dir).list().toSet === want.map(_ => "t.parquet").toSet, s"$name k=$k $next")
        }
        n
      }
      val n = attempt(0)
      (1 to n).foreach(attempt)
    }
  }

  test("two threads appending to one table lose no rows") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    store.append(ids(1, 10), "t")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val runs = (0 until 2).map { w =>
        Future((0 until 4).foreach { i =>
          val lo = 100L + (w * 4 + i) * 10
          store.append(ids(lo, lo + 9).repartition(2), "t")
        })
      }
      runs.foreach(Await.result(_, Duration("5 min")))
    } finally pool.shutdown()
    val got = store.read("t").get.as[Long].collect().sorted.toSeq
    assert(got === (1L to 10L) ++ (100L until 180L))
  }

  test("read runs no job and keeps Spark's schema for every column type and column metadata") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    val meta = new MetadataBuilder().putString("comment", "the key").putLong("width", 8L).build()
    val df = spark.sql("""SELECT id,
        CAST(id AS DECIMAL(12, 3)) AS dec, CAST(id AS DECIMAL(30, 2)) AS wide,
        DATE '2024-01-02' + CAST(id AS INT) AS d,
        TIMESTAMP '2024-01-02 03:04:05' AS ts,
        TIMESTAMP_NTZ '2024-01-02 03:04:05' AS ntz,
        CAST(CAST(id AS STRING) AS BINARY) AS bin,
        array(id, id + 1) AS arr, map('k', id) AS m,
        named_struct('a', id, 'b', array(named_struct('c', 'x'))) AS st,
        CAST(id AS TINYINT) AS b8, CAST(id AS SMALLINT) AS s16, CAST(id AS FLOAT) AS f
      FROM range(3)""").withColumn("id", col("id").as("id", meta))
    store.write(df, "t")
    store.append(df, "t")
    val (got, jobs) = jobsOf(store.read("t").get.schema)
    assert(jobs === 0)
    assert(got === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(got("id").metadata === meta)
    def rows(d: DataFrame) = d.collect().sortBy(_.getLong(0)).toSeq
    assert(rows(store.read("t").get) === rows(spark.read.parquet(s"$dir/t.parquet")))
    assert(rows(store.read("t").get).size === 6)
  }

  test("watermark of a Long, Int, Short or Byte check column runs no job") {
    for (t <- Seq(LongType, IntegerType, ShortType, ByteType)) {
      val dir = Files.createTempDirectory("graft_store").toString
      val store = new ParquetStore(spark, dir)
      store.append(ids(-3, 40).select(col("id").cast(t).as("id")), "t")
      store.append(ids(41, 90).select(col("id").cast(t).as("id")).repartition(3), "t")
      val (wm, jobs) = jobsOf(Watermark.idOf(store.watermark("t", "id").get))
      assert((wm, jobs) === ((90L, 0)), t)
      val (got, want) = bothMax(store, dir, "t", "id")
      assert(got === want, t)
    }
  }

  test("an insert-only SyncJob.run runs a fixed number of Spark jobs") {
    val dir = Files.createTempDirectory("graft_store").toString
    val (src, dst) = (new ParquetStore(spark, s"$dir/src"), new ParquetStore(spark, s"$dir/dst"))
    val rows = (hi: Long) => ids(1, hi).selectExpr("id", "concat('v', id) AS v")
    val cfg = TableConfig("t", Some("id"), Some(CheckType.Id), Seq.empty)
    src.write(rows(100), "t")
    SyncJob.run(src, dst, cfg, Seq("id"))
    src.write(rows(130), "t")
    val (stats, jobs) = jobsOf(SyncJob.run(src, dst, cfg, Seq("id")))
    assert(stats.mode === "incremental id > 100")
    assert(stats.rowsUpserted === 30)
    // the dedup's shuffle stage (AQE runs each stage as a job) and the
    // append's write job; both schemas and the watermark come from the
    // footers
    assert(jobs === 2)
    assert(dst.read("t").get.count() === 130)
  }

  test("a merge-path SyncJob.run runs a fixed number of Spark jobs") {
    val dir = Files.createTempDirectory("graft_store").toString
    val (src, dst) = (new ParquetStore(spark, s"$dir/src"), new ParquetStore(spark, s"$dir/dst"))
    val rows = (hi: Long) => ids(1, hi).selectExpr("id", "id AS key", "concat('v', id) AS v")
    // the check column is not the key, so the run merges and writes
    val cfg = TableConfig("t", Some("id"), Some(CheckType.Id), Seq.empty)
    src.write(rows(100), "t")
    SyncJob.run(src, dst, cfg, Seq("key"))
    src.write(rows(130), "t")
    val (stats, jobs) = jobsOf(SyncJob.run(src, dst, cfg, Seq("key")))
    assert(stats.mode === "incremental id > 100")
    assert(stats.rowsUpserted === 30)
    // the merge's shuffle and the write; the watermark comes from the
    // footers
    assert(jobs === 2)
    assert(dst.read("t").get.count() === 130)
  }

  test("property: the footer watermark equals the MAX aggregate, value and type") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val bounds = Map[DataType, (Long, Long)](
      ByteType -> (Byte.MinValue.toLong, Byte.MaxValue.toLong),
      ShortType -> (Short.MinValue.toLong, Short.MaxValue.toLong),
      IntegerType -> (Int.MinValue.toLong, Int.MaxValue.toLong),
      LongType -> (Long.MinValue, Long.MaxValue))
    val caseGen = for {
      t <- Gen.oneOf(bounds.keys.toSeq)
      (lo, hi) = bounds(t)
      value = Gen.frequency(2 -> Gen.const(None), 1 -> Gen.oneOf(lo, hi).map(Some(_)),
        6 -> Gen.choose(lo, hi).map(Some(_)))
      // several appends; a first empty one leaves a 0-row file behind
      batches <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.choose(0, 12).flatMap(Gen.listOfN(_, value))))
      groupRows <- Gen.choose(1, 4)
      parts <- Gen.choose(1, 3)
    } yield (t, batches, groupRows, parts)
    val prop = Prop.forAllNoShrink(caseGen) { case (t, batches, groupRows, parts) =>
      val dir = Files.createTempDirectory("graft_wm").toString
      val store = new ParquetStore(spark, dir)
      val schema = StructType(Seq(StructField("k", IntegerType), StructField("c", t)))
      withConf("parquet.block.row.count.limit", groupRows.toString) {
        batches.foreach { b =>
          val rows = b.zipWithIndex.map { case (v, i) =>
            Row(i, v.map[Any](x => t match {
              case ByteType => x.toByte; case ShortType => x.toShort
              case IntegerType => x.toInt; case _ => x
            }).orNull)
          }
          store.append(spark.createDataFrame(rows.asJava, schema).repartition(parts), "t")
        }
      }
      val ((got, want), jobs) = jobsOf(bothMax(store, dir, "t", "c"))
      // the aggregate over Spark's read runs jobs of its own; the footer
      // path must have run none, so all of them are the aggregate's
      val (_, aggJobs) = jobsOf(Watermark.maxOf(spark.read.parquet(s"$dir/t.parquet"), "c").collect())
      got == want && jobs == aggJobs
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("small row groups and many appended files give the aggregate's watermark with no job") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    withConf("parquet.block.row.count.limit", "3") {
      store.append(ids(1, 0), "t") // the create path keeps its 0-row file
      (0 until 24).foreach { i =>
        val lo = i * 10L
        // NULLs at the end of each batch fill whole row groups
        store.append(ids(lo, lo + 9).selectExpr("CASE WHEN id % 10 < 6 THEN id END AS id")
          .repartition(2), "t")
      }
    }
    val files = new java.io.File(s"$dir/t.parquet").listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length > 40)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(files.maxBy(_.length).getPath), spark.sparkContext.hadoopConfiguration))
    try assert(footer.getFooter.getBlocks.size > 1) finally footer.close()
    val (wm, jobs) = jobsOf(Watermark.idOf(store.watermark("t", "id").get))
    assert((wm, jobs) === ((235L, 0)))
    val (got, want) = bothMax(store, dir, "t", "id")
    assert(got === want)
  }

  test("four threads reading footers of their own many-file tables get Spark's answers with no job") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    val types = Seq(LongType, IntegerType, ShortType, ByteType)
    val tables = types.indices.map(i => s"t$i")
    for ((t, ty) <- tables.zip(types); i <- 0 until 6) {
      val lo = i * 20L
      store.append(ids(lo, lo + 19).selectExpr(s"CAST(id AS ${ty.sql}) AS id", "concat('v', id) AS v")
        .repartition(4), t)
    }
    for (t <- tables)
      assert(new java.io.File(s"$dir/$t.parquet").list().count(_.startsWith("part-")) >= 20, t)
    // the pool's threads start inside jobsOf, so they carry its tag
    val (got, jobs) = jobsOf {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val runs = tables.map(t => Future((0 until 5).map(_ =>
          (store.read(t).get.schema, shape(store.watermark(t, "id").get)))))
        runs.map(Await.result(_, Duration("5 min")))
      } finally pool.shutdown()
    }
    assert(jobs === 0)
    for ((t, answers) <- tables.zip(got)) {
      val want = (spark.read.parquet(s"$dir/$t.parquet").schema,
        shape(Watermark.maxOf(spark.read.parquet(s"$dir/$t.parquet"), "id")))
      assert(answers.forall(_ == want), t)
      assert(answers.head._2._2.map(_.getAs[Number](0).longValue) === Seq(119L), t)
    }
  }

  test("a table holding only NULLs or no rows has a NULL footer watermark") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    store.append(ids(1, 0), "empty")
    store.append(ids(1, 4).selectExpr("CAST(NULL AS BIGINT) AS id"), "nulls")
    for (t <- Seq("empty", "nulls")) {
      val (got, jobs) = jobsOf(store.watermark(t, "id").get.collect().toSeq)
      assert((got, jobs) === ((Seq(Row(null)), 0)), t)
      assert(Watermark.idOf(store.watermark(t, "id").get) === 0L)
      val (a, b) = bothMax(store, dir, t, "id")
      assert(a === b, t)
    }
  }

  test("check columns the footers cannot answer take the aggregate, with its answer") {
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new ParquetStore(spark, dir)
    val base = ids(1, 30).selectExpr("id", "CAST(id AS DOUBLE) / 4 AS dbl",
      "lpad(CAST(id AS STRING), 3, '0') AS str",
      "TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts")
    store.append(base, "t")
    store.append(base.filter("id > 10").selectExpr("id + 30 AS id", "dbl", "str", "ts"), "t")
    // INT96 timestamp (Spark's default output type), double, string, and a
    // check column named in another case than the table's
    for (c <- Seq("ts", "dbl", "str", "ID")) {
      val (got, want) = bothMax(store, dir, "t", c)
      assert(got === want, c)
      assert(jobsOf(store.watermark("t", c).get.collect())._2 > 0, c)
    }
    // subdirectories: Spark reads them as partitions
    ids(1, 9).selectExpr("id", "id % 3 AS p").write.partitionBy("p").parquet(s"$dir/sub.parquet")
    val (got, want) = bothMax(store, dir, "sub", "id")
    assert(got === want)
    assert(got._2 === Seq(Row(9L)))
    assert(jobsOf(store.watermark("sub", "id").get.collect())._2 > 0)
    assert(store.read("sub").get.schema === spark.read.parquet(s"$dir/sub.parquet").schema)
  }

  test("a single-file table without Spark's row metadata reads and aggregates as Spark does") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_store").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int32 n; optional binary s (STRING); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/t.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try (1 to 20).foreach(i => w.write(rows.newGroup().append("id", i * 3L).append("n", -i).append("s", s"v$i")))
    finally w.close()
    val store = new ParquetStore(spark, dir)
    assert(store.read("t").get.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    for (c <- Seq("id", "n", "s")) {
      val (got, want) = bothMax(store, dir, "t", c)
      assert(got === want, c)
    }
    assert(Watermark.idOf(store.watermark("t", "id").get) === 60L)
  }
}
