package graftbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, when}

import java.security.MessageDigest

/** The benchmark's own checks of its generator and output check:
  *   - one seed gives byte-identical parquet inputs, another seed does not;
  *   - the Derby inputs hold the same rows as the parquet inputs;
  *   - the output check passes after a real cycle, and fails on a corrupted
  *     destination value and on a dropped delta row.
  * Returns one entry per case; `correct` is true when all pass. */
object SelfTest {
  def run(spark: SparkSession, work: String): Map[String, Any] = {
    val results = Seq(
      "same_seed_same_bytes" -> (digest(spark, work, 7, "a") == digest(spark, work, 7, "b")),
      "other_seed_other_bytes" -> (digest(spark, work, 7, "c") != digest(spark, work, 8, "d")),
      "derby_matches_parquet" -> derbyMatchesParquet(spark, work),
    ) ++ checkCatches(spark, work)
    results.foreach { case (n, ok) => System.err.println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $n") }
    Map("cases" -> results.toMap, "correct" -> results.forall(_._2))
  }

  private def small(spark: SparkSession, seed: Long) = new SyncInputs(spark, seed,
    Sizes(orders = 2000, lineOrders = 2000, events = 2000, customers = 300, files = 2,
      tables = Seq("lineitem", "orders", "events", "customer")))

  /** Stage the source and destination, apply two cycles of changes, and
    * hash every parquet file's bytes (names carry a random job id, so the
    * sorted content hashes are compared, not the names). */
  private def digest(spark: SparkSession, work: String, seed: Long, tag: String): Seq[String] = {
    val gen = small(spark, seed)
    val dir = s"$work/digest-$tag"
    val src = new ParquetSide(spark, s"$dir/source")
    val dst = new ParquetSide(spark, s"$dir/dest")
    gen.sizes.tables.foreach { t =>
      val n = gen.initialKeys(t)
      src.create(t, gen.rows(t, 1, n, 2))
      dst.create(t, gen.rows(t, 1, n * 99 / 100, 2))
      var hi = n
      (1 to 2).foreach { c =>
        val newHi = hi + gen.insertCount(t, c)
        val upd = SyncInputs.Updatable(t)
        src.change(t, SyncInputs.keyOf(t), if (upd) Some(gen.updated(t, c)) else None,
          if (upd) gen.updates(t, c, newHi) else Nil, hi, gen.rows(t, hi + 1, newHi, 1), hi)
        hi = newHi
      }
    }
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(root, true)
    val out = Seq.newBuilder[String]
    while (files.hasNext) {
      val p = files.next().getPath
      if (p.getName.endsWith(".parquet")) {
        val in = fs.open(p)
        val bytes = try in.readAllBytes() finally in.close()
        out += MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString
      }
    }
    out.result().sorted
  }

  private def derbyMatchesParquet(spark: SparkSession, work: String): Boolean = {
    val gen = small(spark, 11)
    val pq = new ParquetSide(spark, s"$work/derby-vs-parquet")
    val db = new DerbySide(spark, "jdbc:derby:memory:selftest;create=true")
    Seq("orders", "events").forall { t =>
      val n = gen.initialKeys(t)
      pq.create(t, gen.rows(t, 1, n, 2))
      db.create(t, gen.rows(t, 1, n, 2))
      val newHi = n + gen.insertCount(t, 1)
      val upd = SyncInputs.Updatable(t)
      Seq(pq, db).foreach(_.change(t, SyncInputs.keyOf(t), if (upd) Some(gen.updated(t, 1)) else None,
        if (upd) gen.updates(t, 1, newHi) else Nil, n, gen.rows(t, n + 1, newHi, 1), n))
      SyncWorkload.diff(pq.frame(t), db.frame(t)) == ((0L, 0L))
    }
  }

  /** Run the real cycle, then break the destination two ways. */
  private def checkCatches(spark: SparkSession, work: String): Seq[(String, Boolean)] = {
    val wl = new SyncWorkload(spark, "sync-parquet", seed = 5, work = s"$work/check")
    val st = wl.stage()
    val expected = wl.mutate(st)
    val report = wl.cycle(st, new Tracer(spark.sparkContext))
    val rowsOk = report.failed.isEmpty &&
      report.results.forall { case (t, r) => r.toOption.map(_.rowsUpserted).contains(expected(t)) }
    val clean = wl.diff(st).values.forall(_ == ((0L, 0L)))

    val dest = st.dest.asInstanceOf[ParquetSide]
    def rewrite(t: String)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"${dest.dir}/.selftest_$t.parquet"
      f(dest.frame(t)).write.parquet(tmp)
      val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(s"${dest.dir}/$t.parquet"), true)
      fs.rename(new Path(tmp), new Path(s"${dest.dir}/$t.parquet"))
    }
    // one value changed in one destination row
    rewrite("orders")(df => df.withColumn("o_totalprice",
      when(col("o_orderkey") === 17, col("o_totalprice") + 0.01).otherwise(col("o_totalprice"))))
    val corrupted = wl.diff(st)("orders") == ((1L, 1L))
    // the newest event, which only the last cycle delivered, goes missing
    val newest = st.keysHi("events")
    rewrite("events")(_.filter(col("event_id") =!= newest))
    val dropped = wl.diff(st)("events") == ((1L, 0L))
    wl.close()
    Seq("cycle_rows_match_generator" -> rowsOk, "check_passes_after_sync" -> clean,
      "check_catches_corrupted_value" -> corrupted, "check_catches_dropped_delta_row" -> dropped)
  }
}
