package graft.sync

import graft.config.TableConfig

import java.util.Locale
import java.util.concurrent.{ExecutionException, Executors}
import scala.util.{Failure, Success, Try}

/** O12 — multi-table orchestration with per-table error isolation
  * (reference: run_all_syncs, db-sync-local/main.py:4-30).
  *
  * Concurrent: the tables run on a pool of min(tables, cores) threads, so
  * their short, driver-bound Spark jobs overlap instead of queueing. This
  * is safe because every catalog entry writes its own table. Results and logs keep
  * config order however the tables finish: a failing table logs and the
  * others carry on (the "Continuing with next sync..." quirk only logs
  * when the failure is not last in config order — §2.4-10); the process
  * exit code is 1 if anything failed. A fatal error, which `Try` does not
  * catch, propagates out of `runAll` as it did from the reference's loop.
  */
object Runner {

  case class RunReport(results: Seq[(String, Try[SyncJob.SyncStats])]) {
    def succeeded: Seq[String] = results.collect { case (t, Success(_)) => t }
    def failed: Seq[(String, Throwable)] = results.collect { case (t, Failure(e)) => (t, e) }
    /** exit(1) if any table failed (main.py:25-30). */
    def exitCode: Int = if (failed.nonEmpty) 1 else 0
  }

  def runAll(tables: Seq[TableConfig])(runOne: TableConfig => SyncJob.SyncStats): RunReport = {
    // A pool per call: its threads are created on the caller's thread and
    // so inherit its Spark local properties (job group, job tags, scheduler
    // pool), and a caller's cancelJobGroup reaches every table.
    val threads = math.max(1, math.min(tables.length, Runtime.getRuntime.availableProcessors))
    val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, "graft-runner")
      t.setDaemon(true) // a table still running after a fatal error cannot hold the JVM
      t
    })
    try {
      // a Vector, so every table is submitted before the first wait
      val pending = tables.toVector.map { cfg =>
        cfg -> pool.submit[(Try[SyncJob.SyncStats], Double)] { () =>
          val t0 = System.nanoTime()
          val r = Try(runOne(cfg))
          (r, (System.nanoTime() - t0) / 1e9)
        }
      }
      val results = pending.zipWithIndex.map { case ((cfg, f), i) =>
        val (r, secs) = try f.get() catch { case e: ExecutionException => throw e.getCause }
        r match {
          case Failure(e) =>
            System.err.println(s"[runner] sync failed for ${cfg.name}: ${e.getMessage}")
            if (i < pending.length - 1)
              System.err.println("[runner] Continuing with next sync...")
          case Success(s) =>
            System.err.println(
              s"[runner] ${s.table}: ${s.mode}, rows=${s.rowsUpserted}, ${"%.2f".formatLocal(Locale.ROOT, secs)} s")
        }
        cfg.name -> r
      }
      RunReport(results)
    } finally {
      // interrupts only tables a fatal error or an interrupt left running
      pool.shutdownNow()
    }
  }
}
