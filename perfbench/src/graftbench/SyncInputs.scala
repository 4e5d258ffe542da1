package graftbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Table sizes of one generated catalog, in keys. `lineOrders` is the
  * number of orders `lineitem` holds lines for (1 to 7 lines per order);
  * `tables` lists the catalog in sync order. */
final case class Sizes(orders: Long, lineOrders: Long, events: Long, customers: Long, files: Int,
                       tables: Seq[String])

/** Seeded sync inputs. Every value is a hash of (seed, salt, key) evaluated
  * by Spark over `range` with a fixed partition count, so one seed gives the
  * same rows in the same files whatever the core count.
  *
  * The source holds keys 1..n; the destination starts with the first 99%
  * of them. Each cycle then changes 0.75% of every table: inserts above
  * the current maximum key (and above the timestamp watermark for
  * `events`), updates that rewrite existing `events` and `customer` rows
  * and move `events.ts` past the watermark. */
final class SyncInputs(spark: SparkSession, seed: Long, val sizes: Sizes) {
  import SyncInputs._

  private def h(salt: String, cs: Column*): Column = xxhash64(lit(seed) +: lit(salt) +: cs: _*)
  private def pick(salt: String, n: Int, cs: Column*): Column = pmod(h(salt, cs: _*), lit(n.toLong))
  private def unit(salt: String, cs: Column*): Column = pick(salt, 1000000, cs: _*) / 1e6
  private def money(salt: String, lo: Double, hi: Double, cs: Column*): Column =
    round(unit(salt, cs: _*) * (hi - lo) + lo, 2)
  private def oneOf(salt: String, vs: Seq[String], cs: Column*): Column =
    element_at(array(vs.map(lit): _*), (pick(salt, vs.size, cs: _*) + 1).cast(IntegerType))
  private def keys(lo: Long, hi: Long, parts: Int): DataFrame =
    spark.range(lo, hi + 1, 1, parts.max(1)).toDF("k")

  private val k = col("k")

  def ordersRows(lo: Long, hi: Long, parts: Int): DataFrame = keys(lo, hi, parts).select(
    k.as("o_orderkey"),
    (pick("o_cust", sizes.customers.toInt, k) + 1).as("o_custkey"),
    oneOf("o_status", Seq("F", "O", "P"), k).as("o_orderstatus"),
    money("o_price", 900, 500000, k).as("o_totalprice"),
    timestamp_seconds(lit(Day0) + pick("o_date", 2400, k) * 86400L).as("o_orderdate"),
    oneOf("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), k)
      .as("o_orderpriority"))

  def lineitemRows(lo: Long, hi: Long, parts: Int): DataFrame = keys(lo, hi, parts)
    .select(k, explode(sequence(lit(1), (pick("l_lines", 7, k) + 1).cast(IntegerType))).as("n"))
    .select(
      k.as("l_orderkey"),
      (pick("l_part", 20000, k, col("n")) + 1).as("l_partkey"),
      (pick("l_supp", 1000, k, col("n")) + 1).as("l_suppkey"),
      col("n").as("l_linenumber"),
      (pick("l_qty", 50, k, col("n")) + 1).cast("double").as("l_quantity"),
      money("l_price", 900, 100000, k, col("n")).as("l_extendedprice"),
      (pick("l_disc", 11, k, col("n")) / 100.0).as("l_discount"),
      (pick("l_tax", 9, k, col("n")) / 100.0).as("l_tax"),
      oneOf("l_flag", Seq("A", "N", "R"), k, col("n")).as("l_returnflag"),
      oneOf("l_status", Seq("F", "O"), k, col("n")).as("l_linestatus"),
      timestamp_seconds(lit(Day0) + pick("l_ship", 2500, k, col("n")) * 86400L).as("l_shipdate"))

  /** `events` rows as first inserted: `ts` grows with `event_id`, so a key
    * cut is also a timestamp cut. */
  def eventsRows(lo: Long, hi: Long, parts: Int): DataFrame = keys(lo, hi, parts).select(
    k.as("event_id"),
    eventTs(k),
    (pick("e_user", 5000, k) + 1).as("user_id"),
    oneOf("e_type", EventTypes, k).as("event_type"),
    money("e_value", 0, 1000, k).as("value"),
    eventProps(k, lit(0)).as("props"))

  private def eventTs(secs: Column): Column =
    timestamp_micros(lit(Ts0 * 1000000L) + secs * 1000000L + pick("e_ms", 1000, k) * 1000L).as("ts")
  private def eventProps(key: Column, cycle: Column): Column =
    concat(lit("{\"k\":"), pmod(key, lit(97L)).cast("string"), lit(",\"v\":"),
      cycle.cast("string"), lit("}"))

  def customerRows(lo: Long, hi: Long, parts: Int): DataFrame = keys(lo, hi, parts).select(
    k.as("c_custkey"),
    concat(lit("Customer#"), lpad(k.cast("string"), 9, "0")).as("c_name"),
    pick("c_nation", 25, k).cast(IntegerType).as("c_nationkey"),
    money("c_bal", -999, 9999, k).as("c_acctbal"),
    oneOf("c_seg", Segments, k).as("c_mktsegment"))

  /** Share of each table one cycle changes, the same for every cycle and
    * every seed, so runs with different seeds and cycle counts move the
    * same amount of data and differ only in which rows and values. */
  val Rate = 0.0075

  /** Rows of `table` whose key is updated in `cycle` (keys 1..upTo). */
  def updated(table: String, cycle: Int): Column = {
    val share = (Rate * 0.4 * 1e6).toLong
    pick(s"upd_$table", 1000000, lit(cycle), col(keyOf(table))) < share
  }

  /** The columns an update in `cycle` rewrites, as expressions of the key.
    * `events.ts` moves into the second after `eventsHi`, past every
    * timestamp the destination can hold. */
  def updates(table: String, cycle: Int, eventsHi: Long): Seq[(String, Column)] = table match {
    case "events" =>
      val key = col("event_id")
      Seq(
        "ts" -> timestamp_micros(lit((Ts0 + eventsHi) * 1000000L) +
          pick("u_ms", 1000, lit(cycle), key) * 1000L),
        "event_type" -> oneOf("u_type", EventTypes, lit(cycle), key),
        "value" -> money("u_value", 0, 1000, lit(cycle), key),
        "props" -> eventProps(key, lit(cycle)))
    case "customer" =>
      val key = col("c_custkey")
      Seq(
        "c_acctbal" -> money("u_bal", -999, 9999, lit(cycle), key),
        "c_mktsegment" -> oneOf("u_seg", Segments, lit(cycle), key))
  }

  def rows(table: String, lo: Long, hi: Long, parts: Int): DataFrame = table match {
    case "orders"   => ordersRows(lo, hi, parts)
    case "lineitem" => lineitemRows(lo, hi, parts)
    case "events"   => eventsRows(lo, hi, parts)
    case "customer" => customerRows(lo, hi, parts)
  }

  /** Key count of each table at the start. `lineitem` is keyed by order. */
  def initialKeys(table: String): Long = table match {
    case "orders"              => sizes.orders
    case "lineitem"            => sizes.lineOrders
    case "events"              => sizes.events
    case "customer"            => sizes.customers
  }

  /** Keys one cycle inserts. `events` and `customer` also get updates, so
    * their inserts make up part of the cycle's share. */
  def insertCount(table: String, cycle: Int): Long = {
    val share = table match {
      case "orders" | "lineitem" => Rate
      case _                     => Rate * 0.6
    }
    math.max(1L, math.round(initialKeys(table) * share))
  }
}

object SyncInputs {
  val Day0: Long = 694224000L // 1992-01-01
  val Ts0: Long = 1704067200L // 2024-01-01
  val EventTypes = Seq("view", "click", "cart", "purchase", "search")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Updatable = Set("events", "customer")

  def keyOf(table: String): String = table match {
    case "orders"   => "o_orderkey"
    case "lineitem" => "l_orderkey"
    case "events"   => "event_id"
    case "customer" => "c_custkey"
  }

  /** Primary keys, in the `db-sync --pks` form. */
  val Pks: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "orders" -> Seq("o_orderkey"),
    "events" -> Seq("event_id"),
    "customer" -> Seq("c_custkey"))

  /** The sync catalog as `db-sync --config` reads it: id watermarks on the
    * two insert-only tables, a timestamp watermark on `events`, and no
    * `sync_config` on `customer` (a full copy every cycle). */
  def catalogYaml(tables: Seq[String]): String = {
    val body = Map(
      "lineitem" -> "  lineitem:\n    sync_config:\n      check_column: l_orderkey\n      check_type: id\n",
      "orders" -> "  orders:\n    sync_config:\n      check_column: o_orderkey\n      check_type: id\n",
      "events" -> "  events:\n    sync_config:\n      check_column: ts\n      check_type: timestamp\n",
      "customer" -> "  customer: {}\n")
    "tables:\n" + tables.map(body).mkString
  }
}

/** Rows and on-disk bytes of one table, and what the bench has moved. */
final case class TableFacts(sourceRows: Long, sourceBytes: Long, destRows: Long,
                            destBytes: Long, deltaRows: Long)

/** A database the generator stages and mutates: a parquet directory or an
  * embedded Derby database. Reads go around the program's stores. */
trait Side {
  def create(table: String, df: DataFrame): Unit
  /** Apply one cycle's change: rewrite the `cols` of the rows (keys
    * 1..`keysUpTo`) matching `where`, when given, then add `inserts`.
    * Returns the rows inserted and the rows updated whose key is at most
    * `counted`, both counted while the change is written. */
  def change(table: String, key: String, where: Option[Column], cols: Seq[(String, Column)],
             keysUpTo: Long, inserts: DataFrame, counted: Long): (Long, Long)
  def frame(table: String): DataFrame
  def bytes(table: String): Long
}

final class ParquetSide(spark: SparkSession, val dir: String) extends Side {
  private def path(t: String) = s"$dir/$t.parquet"
  private def fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def create(table: String, df: DataFrame): Unit = df.write.parquet(path(table))

  def change(table: String, key: String, where: Option[Column], cols: Seq[(String, Column)],
             keysUpTo: Long, inserts: DataFrame, counted: Long): (Long, Long) = {
    val ins = Observation()
    val countedInserts = inserts.observe(ins, count(lit(1)).as("n"))
    where match {
      case None =>
        countedInserts.write.mode("append").parquet(path(table))
        (ins.get("n").asInstanceOf[Long], 0L)
      case Some(w) =>
        // a map-only rewrite keeps row order, so the files stay a function of the seed
        val upd = Observation()
        val cur = frame(table)
        val set = cols.toMap
        val next = cur.select(cur.columns.toSeq.map { c =>
          set.get(c).fold(col(c))(v => when(w, v).otherwise(col(c))).as(c)
        }: _*).observe(upd, count(when(w && col(key) <= counted, 1)).as("n"))
        val tmp = new Path(s"$dir/.next_$table.parquet")
        next.unionByName(countedInserts).write.mode("overwrite").parquet(tmp.toString)
        fs.delete(new Path(path(table)), true)
        if (!fs.rename(tmp, new Path(path(table)))) sys.error(s"rename failed for $table")
        (ins.get("n").asInstanceOf[Long], upd.get("n").asInstanceOf[Long])
    }
  }

  def frame(table: String): DataFrame = spark.read.parquet(path(table))

  def bytes(table: String): Long = {
    val p = new Path(path(table))
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
}

/** An in-memory Derby database. Tables get explicit DDL (VARCHAR, and the
  * sync key as PRIMARY KEY) before the first insert. */
final class DerbySide(spark: SparkSession, val url: String) extends Side {
  private val props = new java.util.Properties()

  private def exec(sql: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try { val s = c.createStatement(); try s.executeUpdate(sql) finally s.close() }
    finally c.close()
  }

  private val ddl = Map(
    "orders" -> ("\"o_orderkey\" BIGINT NOT NULL PRIMARY KEY, \"o_custkey\" BIGINT, " +
      "\"o_orderstatus\" VARCHAR(8), \"o_totalprice\" DOUBLE, \"o_orderdate\" TIMESTAMP, " +
      "\"o_orderpriority\" VARCHAR(32)"),
    "events" -> ("\"event_id\" BIGINT NOT NULL PRIMARY KEY, \"ts\" TIMESTAMP, \"user_id\" BIGINT, " +
      "\"event_type\" VARCHAR(16), \"value\" DOUBLE, \"props\" VARCHAR(64)"))

  def create(table: String, df: DataFrame): Unit = {
    exec(s"CREATE TABLE $table (${ddl(table)})")
    insert(table, df)
  }

  private def insert(table: String, df: DataFrame): Unit =
    df.write.mode("append").option("batchsize", 1000).jdbc(url, table, props)

  def change(table: String, key: String, where: Option[Column], cols: Seq[(String, Column)],
             keysUpTo: Long, inserts: DataFrame, counted: Long): (Long, Long) = {
    val updated = where.fold(0L) { w =>
      val rows = spark.range(1, keysUpTo + 1, 1, 1).toDF(key).filter(w)
        .select(cols.map { case (n, v) => v.as(n) } :+ col(key): _*).collect()
      val sets = cols.map { case (n, _) => "\"" + n + "\" = ?" }.mkString(", ")
      val c = java.sql.DriverManager.getConnection(url)
      try {
        c.setAutoCommit(false)
        val st = c.prepareStatement(s"UPDATE $table SET $sets WHERE \"$key\" = ?")
        try {
          rows.foreach { r =>
            (0 until r.length).foreach(i => st.setObject(i + 1, r.get(i)))
            st.addBatch()
          }
          st.executeBatch()
        } finally st.close()
        c.commit()
      } finally c.close()
      rows.count(_.getLong(cols.size) <= counted).toLong
    }
    val ins = Observation()
    insert(table, inserts.observe(ins, count(lit(1)).as("n")))
    (ins.get("n").asInstanceOf[Long], updated)
  }

  def frame(table: String): DataFrame = spark.read.jdbc(url, table, props)

  /** Allocated bytes of the table and its indexes, from Derby's own
    * space diagnostic. */
  def bytes(table: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val s = c.createStatement()
      try {
        val r = s.executeQuery("SELECT SUM(NUMALLOCATEDPAGES * PAGESIZE) FROM TABLE " +
          s"(SYSCS_DIAG.SPACE_TABLE('APP', '${table.toUpperCase(java.util.Locale.ROOT)}')) T")
        if (r.next()) r.getLong(1) else 0L
      } finally s.close()
    } finally c.close()
  }
}
