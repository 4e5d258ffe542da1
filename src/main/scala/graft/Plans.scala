package graft

import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-dump main (optimization-round measurement tooling): writes the
  * `.explain("formatted")` output of each named query to
  * `<outDir>/<query>_<tag>.txt`.
  *
  * Usage: runMain graft.Plans <outDir> <tag> q01_project_scan,q77_stream_join
  *
  * Same session configuration as Bench (master/local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions = cpus, AQE on) so the dumped plans are built under
  * the session the bench runs. NOTE: what is dumped is the PRE-EXECUTION
  * plan (`AdaptiveSparkPlan isFinalPlan=false`) — AQE may re-shape joins
  * and coalesce partitions at run time; AQE-final shapes are asserted by
  * PlanShapeSpec (which collects first), not by these dumps. Executing
  * every query here just to dump the final plan would make plan dumps as
  * expensive as a bench run. Queries that drive their own streaming harness
  * still produce a plan: the lambda runs to completion (building the final
  * DataFrame) and the FINAL frame's plan is dumped — for those the
  * interesting plans are the per-micro-batch ones, which this tool cannot
  * see; it still pins the read-back/serve shape.
  *
  * A query that ends in a `localCheckpoint` dumps as one scan of the
  * checkpointed RDD, which says nothing about its pipeline, so the dump
  * goes on with the plan under every `checkpoint`/`localCheckpoint` that
  * ran while the query was built, in the order they ran (executed plans,
  * AQE-final). Dumps embed run-specific ids (RDD ids, `#n` expression ids,
  * `plan_id`s, temp paths); compare them with `scripts/plan_diff.py`,
  * which masks those.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Plans <outDir> <tag> <q1,q2,...>")
    val Array(outDir, tag, list) = args
    val names = list.split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.build()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    var failed = 0
    // checkpointed query executions, in the order the listener bus
    // delivers them (the order they ran), and the probe that marks the end
    val checkpoints = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    @volatile var probe: QueryExecution = null
    val seen = new java.util.concurrent.Semaphore(0)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq probe) seen.release()
        else if (funcName == "localCheckpoint" || funcName == "checkpoint") checkpoints.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    def formatted(qe: QueryExecution) = qe.explainString(ExplainMode.fromString("formatted"))
    names.foreach { name =>
      try {
        checkpoints.clear()
        val df = SparkEntry.queries(name)(spark, sfDir)
        // the bus delivers events in order, so once the probe's action is
        // seen, every checkpoint that ran before it has been seen too
        val p = spark.range(1).toDF()
        probe = p.queryExecution
        p.collect()
        if (!seen.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS))
          sys.error("listener bus did not deliver the probe")
        val under = checkpoints.toArray(Array.empty[QueryExecution]).zipWithIndex.map {
          case (qe, i) => s"\n== plan under checkpoint ${i + 1} ==\n${formatted(qe)}"
        }
        val plan = formatted(df.queryExecution) + under.mkString
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        println(s"[plans] wrote $outDir/${name}_$tag.txt")
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
    // a run where dumps failed must not look successful (a before/after
    // comparison would silently diff stale or missing files)
    if (failed > 0) sys.exit(1)
  }
}
