package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's JVM side. One closed loop with one client: each sync
  * cycle starts when the previous one has returned.
  *
  * {{{
  *   graftbench.Main --workload sync-parquet|sync-lineitem|sync-jdbc|selftest --seed N
  *     --seconds S --trace 0|1 --work DIR --out FILE
  * }}}
  *
  * Writes raw samples (set-up time, one record per cycle, spans in a traced
  * run, the output check) to `--out`; `perfbench/run.py` turns them into
  * metrics. Exits 1 when an output check fails. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.build()
    val ok =
      try {
        val result = opts("workload") match {
          case "selftest" => SelfTest.run(spark, opts("work"))
          case w @ ("sync-parquet" | "sync-lineitem" | "sync-jdbc") =>
            runSync(spark, w, opts("seed").toLong, opts("seconds").toDouble,
              opts("trace") == "1", opts("work"), jvmStart)
        }
        val json = new ObjectMapper().registerModule(DefaultScalaModule)
        Files.writeString(Paths.get(opts("out")), json.writeValueAsString(result))
        result("correct") == true
      } finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  def runSync(spark: SparkSession, workload: String, seed: Long, seconds: Double,
              trace: Boolean, work: String, jvmStart: Long): Map[String, Any] = {
    val wl = new SyncWorkload(spark, workload, seed, work)
    val tr = new Tracer(spark.sparkContext)
    val listeners = new Listeners(spark)

    // set-up: staging, then warm-up cycles that let the JIT settle
    val t0 = System.nanoTime()
    val st = wl.stage()
    val stagingS = (System.nanoTime() - t0) / 1e9
    val warmups = (1 to wl.warmupCycles).map { _ =>
      val t0 = System.nanoTime()
      wl.mutate(st)
      if (wl.cycle(st, tr).failed.nonEmpty) sys.error("warm-up cycle failed")
      wl.synced(st)
      (System.nanoTime() - t0) / 1e9
    }

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deltaTotal = mutable.Map.empty[String, Long].withDefaultValue(0L)
    // set-up ends here: JVM start to the first timed cycle
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (ops.isEmpty || System.nanoTime() < deadline) {
      val m0 = System.nanoTime()
      val expected = wl.mutate(st)
      val mutateS = (System.nanoTime() - m0) / 1e9
      // a traced run alternates traced and untraced cycles: the untraced
      // ones give the wall time the tracing overhead is measured against
      tr.enabled = trace && ops.size % 2 == 0
      val start = Clock.nowMicros
      val t0 = System.nanoTime()
      val report = scala.util.Try(
        if (tr.enabled) listeners.during(wl.cycle(st, tr)) else wl.cycle(st, tr))
      val wall = (System.nanoTime() - t0) / 1e9
      val rows = report.toOption.toSeq.flatMap(_.results).collect {
        case (t, scala.util.Success(s)) => t -> s.rowsUpserted
      }.toMap
      val failed = report.fold(e => Seq("cycle" -> e.toString), _.failed.map {
        case (t, e) => t -> String.valueOf(e.getMessage)
      })
      val wrong = expected.collect { case (t, n) if rows.get(t).exists(_ != n) => t -> s"rows ${rows(t)} != $n" }
      val error = (failed ++ wrong).map { case (t, e) => s"$t: $e" }
      if (error.isEmpty) wl.synced(st)
      rows.foreach { case (t, n) => deltaTotal(t) += n }
      ops += Map("wall_s" -> wall, "start_us" -> start, "traced" -> tr.enabled,
        "rows" -> rows, "expected" -> expected, "error" -> error, "mutate_s" -> mutateS)
    }
    tr.enabled = false
    val heapMb = heapUsedMb()

    val diff = wl.diff(st)
    val checkOk = diff.values.forall(_ == ((0L, 0L)))
    val facts = wl.facts(st, deltaTotal.toMap)
    val traceOf = tr.spans.map(s => s.id -> s.trace).toMap.withDefaultValue(0L)
    val out = Map[String, Any](
      "workload" -> workload,
      "seed" -> seed,
      "cores" -> spark.sparkContext.defaultParallelism,
      "setup_s" -> setupS,
      "staging_s" -> stagingS,
      "warmup_s" -> warmups,
      "ops" -> ops,
      "check" -> diff.map { case (t, (a, b)) => t -> Map("only_source" -> a, "only_dest" -> b) },
      "correct" -> (checkOk && ops.forall(_("error").asInstanceOf[Seq[_]].isEmpty)),
      "tables" -> facts,
      "sizes" -> wl.sizes,
      "peak_rss_mb" -> peakRssMb(),
      "heap_used_mb" -> heapMb,
      "spans" -> (tr.spans ++ listeners.jobs.spans(traceOf)),
      "plans" -> listeners.plans.actions.map { case (t, s) => Map("start_us" -> t, "planning_s" -> s) })
    wl.close()
    out
  }

  /** Heap the program still holds after the timed cycles: used heap after
    * a full collection, in MB. Unlike `VmHWM` it has no floor set by the
    * fixed heap size. */
  def heapUsedMb(): Double = {
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** The JVM's resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
