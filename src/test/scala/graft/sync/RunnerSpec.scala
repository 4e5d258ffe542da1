package graft.sync

import graft.SparkSpec
import graft.config.{CheckType, TableConfig}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

class RunnerSpec extends SparkSpec {

  private def cfg(n: String) =
    TableConfig(n, None, None, Seq.empty)

  private def okStats(n: String) = SyncJob.SyncStats(n, "full", 1)

  /** Waits for `l`, failing the table after a bound: a runner that does not
    * overlap the tables fails these tests instead of hanging them. */
  private def await(l: CountDownLatch): Unit =
    if (!l.await(20, TimeUnit.SECONDS)) sys.error("timed out: the tables did not overlap")

  /** The overlap tests need a pool of at least two threads. */
  private def twoThreads(): Unit =
    assume(Runtime.getRuntime.availableProcessors >= 2, "the runner's pool has one thread here")

  /** The `[runner]` lines `body` prints to System.err. */
  private def runnerLines(body: => Unit): Seq[String] = {
    val buf = new ByteArrayOutputStream
    val old = System.err
    System.setErr(new PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(old)
    buf.toString("UTF-8").linesIterator.filter(_.startsWith("[runner]")).toSeq
  }

  test("a failing table does not stop the fold; exit code is 1") {
    val report = Runner.runAll(Seq(cfg("a"), cfg("boom"), cfg("c"))) { c =>
      if (c.name == "boom") sys.error("db down") else okStats(c.name)
    }
    assert(report.succeeded === Seq("a", "c"))
    assert(report.failed.map(_._1) === Seq("boom"))
    assert(report.exitCode === 1)
  }

  test("all green -> exit code 0, order preserved") {
    val report = Runner.runAll(Seq(cfg("a"), cfg("b")))(c => okStats(c.name))
    assert(report.exitCode === 0)
    assert(report.results.map(_._1) === Seq("a", "b"))
  }

  test("the tables of one run overlap") {
    twoThreads()
    val both = new CountDownLatch(2)
    val report = Runner.runAll(Seq(cfg("a"), cfg("b"))) { c =>
      both.countDown()
      await(both)
      okStats(c.name)
    }
    assert(report.succeeded === Seq("a", "b"))
  }

  test("results keep config order when a later table finishes first") {
    twoThreads()
    val cDone = new CountDownLatch(1)
    val report = Runner.runAll(Seq(cfg("a"), cfg("boom"), cfg("c"))) { c =>
      c.name match {
        case "a"    => await(cDone); okStats("a")
        case "boom" => sys.error("db down")
        case _      => try okStats(c.name) finally cDone.countDown()
      }
    }
    assert(report.results.map(_._1) === Seq("a", "boom", "c"))
    assert(report.succeeded === Seq("a", "c"))
    assert(report.failed.map(_._1) === Seq("boom"))
    assert(report.exitCode === 1)
  }

  test("a table that throws does not stop a slower sibling") {
    twoThreads()
    val thrown = new CountDownLatch(1)
    val report = Runner.runAll(Seq(cfg("slow"), cfg("boom"))) { c =>
      if (c.name == "boom") try sys.error("db down") finally thrown.countDown()
      else {
        await(thrown)
        Thread.sleep(200) // still running after its sibling failed; not interrupted
        okStats(c.name)
      }
    }
    assert(report.succeeded === Seq("slow"))
    assert(report.failed.map { case (t, e) => t -> e.getMessage } === Seq("boom" -> "db down"))
  }

  test("a fatal error propagates out of runAll, not waiting for a stuck sibling") {
    val never = new CountDownLatch(1)
    val t0 = System.nanoTime()
    val e = intercept[LinkageError] {
      Runner.runAll(Seq(cfg("fatal"), cfg("stuck"))) { c =>
        if (c.name == "fatal") throw new LinkageError("fatal in runOne")
        never.await(60, TimeUnit.SECONDS)
        okStats(c.name)
      }
    }
    assert(e.getMessage === "fatal in runOne")
    assert((System.nanoTime() - t0) / 1e9 < 30)
  }

  test("[runner] lines keep config order; 'Continuing' follows a failure only when it is not last") {
    twoThreads()
    val secs = ", \\d+\\.\\d\\d s$"
    def run(tables: String*)(runOne: TableConfig => SyncJob.SyncStats): Seq[String] =
      runnerLines(Runner.runAll(tables.map(cfg(_)))(runOne)).map(_.replaceAll(secs, ", <t> s"))

    // finish order: boom, c, a
    val boomDone, cDone = new CountDownLatch(1)
    assert(run("a", "boom", "c") { c =>
      c.name match {
        case "a"    => await(cDone); okStats("a")
        case "boom" => try sys.error("db down") finally boomDone.countDown()
        case _      => await(boomDone); try okStats(c.name) finally cDone.countDown()
      }
    } === Seq(
      "[runner] a: full, rows=1, <t> s",
      "[runner] sync failed for boom: db down",
      "[runner] Continuing with next sync...",
      "[runner] c: full, rows=1, <t> s"))

    // the failure is last in config order but finishes first
    val lastDone = new CountDownLatch(1)
    assert(run("a", "boom") { c =>
      if (c.name == "boom") try sys.error("db down") finally lastDone.countDown()
      else { await(lastDone); okStats(c.name) }
    } === Seq(
      "[runner] a: full, rows=1, <t> s",
      "[runner] sync failed for boom: db down"))
  }

  test("every table's Spark jobs carry the caller's job group, on every run") {
    val dir = Files.createTempDirectory("graft_runner").toString
    val (src, dst) = (new ParquetStore(spark, s"$dir/src"), new ParquetStore(spark, s"$dir/dst"))
    val tables = Seq("t1", "t2").map(TableConfig(_, Some("id"), Some(CheckType.Id), Seq.empty))
    val sc = spark.sparkContext
    // (job group, job description) of every job started
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        jobs.add((p.map(_.getProperty("spark.jobGroup.id")).orNull,
          p.map(_.getProperty("spark.job.description")).orNull))
      }
    }
    def syncAs(group: String, hi: Long): Seq[(String, String)] = {
      tables.foreach(t => src.write(spark.range(1, hi + 1).selectExpr("id", "concat('v', id) AS v"), t.name))
      org.apache.spark.TestBus.drain(sc)
      jobs.clear()
      sc.setJobGroup(group, s"sync $group")
      try {
        val report = Runner.runAll(tables) { t =>
          sc.setJobDescription(t.name) // names the table's jobs for the listener
          SyncJob.run(src, dst, t, Seq("id"))
        }
        assert(report.exitCode === 0)
      } finally sc.clearJobGroup()
      org.apache.spark.TestBus.drain(sc)
      jobs.asScala.toSeq
    }
    sc.addSparkListener(listener)
    try {
      // run 1 bootstraps both tables; run 2 appends to them. A pool kept
      // from run 1 would still carry run 1's group into run 2.
      for ((group, hi) <- Seq("graft-sync-1" -> 10L, "graft-sync-2" -> 20L)) {
        val seen = syncAs(group, hi)
        assert(seen.map(_._2).toSet === Set("t1", "t2"))
        assert(seen.forall(_._1 == group), seen)
      }
    } finally sc.removeSparkListener(listener)
    tables.foreach(t => assert(dst.read(t.name).get.count() === 20))
  }
}
