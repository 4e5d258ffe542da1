package graftbench

import graft.sync.TableStore
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Epoch microseconds from a monotonic clock, so bench spans and Spark's
  * listener timestamps (epoch milliseconds) share one time axis. */
object Clock {
  private val nanoBase = System.nanoTime()
  private val microBase = System.currentTimeMillis() * 1000L
  def nowMicros: Long = microBase + (System.nanoTime() - nanoBase) / 1000L
}

/** One recorded interval. `parent` 0 marks an operation (the root of a
  * trace); `trace` is the id of that root. Times are epoch microseconds. */
final case class Span(id: Long, parent: Long, trace: Long, name: String, kind: String,
                      start: Long, end: Long, attrs: Map[String, Double])

/** Spans recorded around the calls the bench makes into the program. While
  * a span is open its id sits in the Spark local property [[Tracer.Prop]],
  * so every Spark job the call starts names the span that caused it. Spans
  * stay in memory until the run ends. When disabled, `span` is a plain call. */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Long, mutable.Map[String, Double])]
  private var nextId = 1L
  private var traceId = 0L
  var enabled = false

  def span[T](name: String, kind: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.fold(0L)(_._1)
      if (parent == 0L) traceId = id
      val attrs = mutable.Map.empty[String, Double]
      stack = (id, attrs) :: stack
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val start = Clock.nowMicros
      try f
      finally {
        val end = Clock.nowMicros
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_._1.toString).orNull)
        done += Span(id, parent, traceId, name, kind, start, end, attrs.toMap)
      }
    }

  /** Attach a number to the innermost open span. */
  def tag(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_._2(key) = value)

  def spans: Seq[Span] = done.toSeq
}

object Tracer { val Prop = "graftbench.span" }

/** A `TableStore` that delegates every trait method to `inner` inside a
  * span, so each store call of a sync is timed from outside the program. */
final class TracedStore(inner: TableStore, tr: Tracer) extends TableStore {
  override def read(table: String): Option[DataFrame] =
    tr.span("TableStore.read", "store")(inner.read(table))
  override def watermark(table: String, checkColumn: String): Option[DataFrame] =
    tr.span("TableStore.watermark", "store")(inner.watermark(table, checkColumn))
  override def write(df: DataFrame, table: String): Unit =
    tr.span("TableStore.write", "store")(inner.write(df, table))
  override def append(df: DataFrame, table: String): Unit =
    tr.span("TableStore.append", "store")(inner.append(df, table))
  override def writeAtomic(df: DataFrame, table: String): Unit =
    tr.span("TableStore.writeAtomic", "store")(inner.writeAtomic(df, table))
}

/** Per-job counters from Spark's public listener events. Each job is
  * attributed to the bench span named by its [[Tracer.Prop]] local property. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val span: Long, val start: Long) {
    var end = 0L
    val m: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .fold(0L)(_.toLong)
    jobs(e.jobId) = new Job(e.jobId, span, e.time * 1000L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.m("stages") += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); t <- Option(e.taskMetrics)) {
      val m = j.m
      m("tasks") += 1
      m("executor_run_s") += t.executorRunTime / 1e3
      m("executor_cpu_s") += t.executorCpuTime / 1e9
      m("input_bytes") += t.inputMetrics.bytesRead
      m("shuffle_write_bytes") += t.shuffleWriteMetrics.bytesWritten
      m("shuffle_read_bytes") += t.shuffleReadMetrics.totalBytesRead
      m("output_bytes") += t.outputMetrics.bytesWritten
      m("output_rows") += t.outputMetrics.recordsWritten
      m("spill_bytes") += t.memoryBytesSpilled + t.diskBytesSpilled
    }
  }

  /** Finished jobs as spans under the bench span that started them. */
  def spans(traceOf: Long => Long): Seq[Span] = synchronized {
    jobs.values.filter(_.end > 0).map { j =>
      Span(-j.id - 1L, j.span, traceOf(j.span), "spark.job", "job", j.start, j.end, j.m.toMap)
    }.toSeq
  }
}

/** Analysis + optimization + planning time of every action, keyed by the
  * epoch-microsecond start of its first phase (attributed to the enclosing
  * operation by time). */
final class PlanListener extends QueryExecutionListener {
  private val rows = mutable.ArrayBuffer.empty[(Long, Double)]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planning = Seq("analysis", "optimization", "planning").flatMap(phases.get)
      .map(_.durationMs / 1e3).sum
    val start = if (phases.isEmpty) Clock.nowMicros else phases.values.map(_.startTimeMs).min * 1000L
    synchronized(rows += (start -> planning))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def actions: Seq[(Long, Double)] = synchronized(rows.toSeq)
}

/** Registers the listeners for one traced operation and removes them after
  * the listener bus has delivered that operation's events, so untraced
  * operations run with no bench listener attached. */
final class Listeners(spark: SparkSession) {
  val jobs = new JobListener
  val plans = new PlanListener
  private val sc = spark.sparkContext

  def during[T](f: => T): T = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    try f
    finally {
      org.apache.spark.BenchBus.drain(sc)
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }
  }
}
