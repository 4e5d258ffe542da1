package graftbench

import graft.config.SyncConfig
import graft.sync.{JdbcStore, ParquetStore, Runner, SyncJob, TableStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.Try

/** One destination and its source, staged from the generator. `synced`
  * is the key bound up to which the destination holds every source row. */
final class Staged(val source: Side, val dest: Side,
                   val sourceStore: TableStore, val destStore: TableStore,
                   val keysHi: mutable.Map[String, Long], val synced: mutable.Map[String, Long]) {
  var cycle = 0
}

/** The flagship sync as `db-sync` runs it: the catalog YAML parsed by
  * `SyncConfig`, then `Runner.runAll` calling `SyncJob.run` per table, on
  * parquet directories or, for `sync-jdbc`, on two embedded Derby
  * databases, a "prod" source and a "stage" destination.
  *
  *  - `sync-parquet`: four small tables, so per-table fixed costs (jobs,
  *    store calls) are most of a cycle;
  *  - `sync-lineitem`: `lineitem` alone at 2/3 of sf0.1, so rewriting the
  *    destination is most of a cycle;
  *  - `sync-jdbc`: `orders` and `events` through `JdbcStore`. */
final class SyncWorkload(spark: SparkSession, workload: String, seed: Long, work: String) {
  import SyncInputs._

  val jdbc: Boolean = workload == "sync-jdbc"

  val sizes: Sizes = workload match {
    case "sync-parquet" => Sizes(orders = 15000, lineOrders = 25000, events = 20000, customers = 2000,
      files = 2, tables = Seq("lineitem", "orders", "events", "customer"))
    case "sync-lineitem" => Sizes(orders = 0, lineOrders = 100000, events = 0, customers = 0,
      files = 4, tables = Seq("lineitem"))
    case "sync-jdbc" => Sizes(orders = 8000, lineOrders = 0, events = 8000, customers = 1500,
      files = 1, tables = Seq("orders", "events"))
  }

  /** Untimed cycles between staging and the first timed cycle. Cycle
    * times keep falling for several cycles while the JIT compiles; these
    * take the steepest part of that slope out of the timed window. */
  val warmupCycles: Int = workload match {
    case "sync-parquet" => 2
    case "sync-lineitem" => 3
    case "sync-jdbc" => 4
  }

  val gen = new SyncInputs(spark, seed, sizes)
  private val catalog = SyncConfig.parse(catalogYaml(sizes.tables)).values.toSeq
  private var staged: Option[Staged] = None

  // the untimed staging, changes and checks touch each table on its own
  // thread; the threads start during staging, before any span is open, so
  // no job they run inherits a span id
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(sizes.tables.size, { r =>
    val t = new Thread(r)
    t.setDaemon(true)
    t
  })
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
  private def perTable[T](f: String => T): Map[String, T] =
    sizes.tables.map(t => t -> Future(f(t))).map { case (t, x) => t -> Await.result(x, Duration.Inf) }.toMap

  /** Write the source and the 99%-synced destination. */
  def stage(): Staged = {
    val (src, dst, srcStore, dstStore) =
      if (jdbc) {
        val (p, s) = ("jdbc:derby:memory:prod;create=true", "jdbc:derby:memory:stage;create=true")
        (new DerbySide(spark, p), new DerbySide(spark, s),
          new JdbcStore(spark, p, Map.empty), new JdbcStore(spark, s, Map.empty))
      } else {
        val (p, s) = (s"$work/data/source", s"$work/data/dest")
        (new ParquetSide(spark, p), new ParquetSide(spark, s),
          new ParquetStore(spark, p), new ParquetStore(spark, s))
      }
    perTable { t =>
      src.create(t, gen.rows(t, 1, gen.initialKeys(t), sizes.files))
      dst.create(t, gen.rows(t, 1, gen.initialKeys(t) * 99 / 100, sizes.files))
    }
    val hi = mutable.Map(sizes.tables.map(t => t -> gen.initialKeys(t)): _*)
    val synced = mutable.Map(sizes.tables.map(t => t -> gen.initialKeys(t) * 99 / 100): _*)
    val st = new Staged(src, dst, srcStore, dstStore, hi, synced)
    staged = Some(st)
    st
  }

  private def drop(st: Staged): Unit = st.source match {
    case d: DerbySide =>
      Seq(d.url, st.dest.asInstanceOf[DerbySide].url).foreach { u =>
        Try(java.sql.DriverManager.getConnection(u.replace(";create=true", ";drop=true")))
      }
    case p: ParquetSide =>
      val path = new org.apache.hadoop.fs.Path(p.dir).getParent
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  /** Change the source for the next cycle (untimed). Returns the rows the
    * cycle must upsert per table: every source row the destination lacks
    * or holds in an older version; for `customer`, the whole table. */
  def mutate(st: Staged): Map[String, Long] = {
    st.cycle += 1
    val c = st.cycle
    val changed = perTable { t =>
      val key = keyOf(t)
      val hi = st.keysHi(t)
      val newHi = hi + gen.insertCount(t, c)
      val inserts = gen.rows(t, hi + 1, newHi, 1)
      val where = if (Updatable(t)) Some(gen.updated(t, c)) else None
      val cols = if (Updatable(t)) gen.updates(t, c, newHi) else Nil
      val synced = st.synced(t)
      val (inserted, updatedSynced) = st.source.change(t, key, where, cols, hi, inserts, synced)
      val expected = t match {
        case "customer" => newHi
        case "lineitem" =>
          // lines of the orders a failed cycle left behind, plus the new ones
          inserted + (if (synced < hi) gen.rows(t, synced + 1, hi, 1).count() else 0L)
        case _ => newHi - synced + updatedSynced
      }
      (newHi, expected)
    }
    changed.foreach { case (t, (newHi, _)) => st.keysHi(t) = newHi }
    changed.map { case (t, (_, expected)) => t -> expected }
  }

  /** One `db-sync` cycle over the catalog. With tracing on, the stores are
    * wrapped so each trait call is a span. */
  def cycle(st: Staged, tr: Tracer): Runner.RunReport = {
    val (src, dst) =
      if (tr.enabled) (new TracedStore(st.sourceStore, tr), new TracedStore(st.destStore, tr))
      else (st.sourceStore, st.destStore)
    tr.span("Runner.runAll", "op") {
      Runner.runAll(catalog) { cfg =>
        tr.span(s"SyncJob.run:${cfg.name}", "table") {
          val s = SyncJob.run(src, dst, cfg, Pks.getOrElse(cfg.name, Seq.empty))
          tr.tag("rows", s.rowsUpserted.toDouble)
          s
        }
      }
    }
  }

  /** Mark the destination as holding the whole source after a good cycle. */
  def synced(st: Staged): Unit = sizes.tables.foreach(t => st.synced(t) = st.keysHi(t))

  /** Source and destination rows that differ, per table: (only in source,
    * only in destination), by the bench's own `exceptAll`. */
  def diff(st: Staged): Map[String, (Long, Long)] =
    perTable(t => SyncWorkload.diff(st.source.frame(t), st.dest.frame(t)))

  def facts(st: Staged, delta: Map[String, Long]): Map[String, TableFacts] =
    perTable { t =>
      TableFacts(st.source.frame(t).count(), st.source.bytes(t),
        st.dest.frame(t).count(), st.dest.bytes(t), delta.getOrElse(t, 0L))
    }

  def close(): Unit = {
    staged.foreach(drop)
    pool.shutdown()
  }
}

object SyncWorkload {
  def diff(src: DataFrame, dst: DataFrame): (Long, Long) = {
    val d = dst.select(src.columns.toSeq.map(dst.col): _*)
    (src.exceptAll(d).count(), d.exceptAll(src).count())
  }
}
