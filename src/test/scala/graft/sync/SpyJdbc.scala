package graft.sync

import java.lang.reflect.{InvocationTargetException, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo}
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.logging.Logger

/** A RECORDING pass-through java.sql.Driver in front of embedded Derby: every
  * SQL string Spark's JDBC source sends (prepareStatement / executeQuery /
  * executeUpdate / execute) is captured before delegating to the real Derby
  * driver. This is how the watermark-pushdown contract is graded END TO END:
  * the MAX really executes inside Derby, and the spec asserts the recorded
  * statements show a server-side `SELECT MAX(...)` subquery — not an
  * engine-side pull of the whole check column. It delegates, so reads
  * return real data.
  */
object SpyJdbc {
  val Prefix = "jdbc:graftspy:"

  /** SQL statements in send order, JVM-global (local[n] shares the JVM). */
  val statements = new ConcurrentLinkedQueue[String]()
  def reset(): Unit = statements.clear()
  def recorded: Seq[String] = statements.toArray(Array.empty[String]).toSeq

  /** `jdbc:graftspy:memory:x;create=true` -> `jdbc:derby:memory:x;create=true` */
  private def derbyUrl(url: String) = "jdbc:derby:" + url.stripPrefix(Prefix)

  // Register once, idempotently: DriverManager scans registered drivers by
  // acceptsURL, so JdbcStore needs no `driver` option for the spy scheme.
  // The dialect registration matters too: without it Spark picks the
  // default dialect for the spy URL and CREATEs string columns as TEXT,
  // which Derby rejects — delegate type mapping to the real Derby dialect.
  private lazy val registered: Unit = {
    DriverManager.registerDriver(new SpyJdbcDriver)
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(SpyDialect)
  }
  def ensureRegistered(): Unit = registered

  private object SpyDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    private val derby = org.apache.spark.sql.jdbc.JdbcDialects.get("jdbc:derby:x")
    override def canHandle(url: String): Boolean = url.startsWith(Prefix)
    override def getJDBCType(dt: org.apache.spark.sql.types.DataType) =
      derby.getJDBCType(dt)
    override def getCatalystType(sqlType: Int, typeName: String, size: Int,
        md: org.apache.spark.sql.types.MetadataBuilder) =
      derby.getCatalystType(sqlType, typeName, size, md)
    override def quoteIdentifier(colName: String): String =
      derby.quoteIdentifier(colName)
    override def isCascadingTruncateTable(): Option[Boolean] =
      derby.isCascadingTruncateTable()
  }

  /** Wrap an object in a recording proxy of `iface`: any invoked method whose
    * first argument is a String that parses as SQL-ish gets recorded, results
    * that are themselves Statement/ResultSet-producing JDBC interfaces are
    * wrapped recursively so executor-side statements are captured too. */
  private def spy[T](target: AnyRef, iface: Class[T]): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface), (_, m, rawArgs) => {
      val args = if (rawArgs == null) Array.empty[AnyRef] else rawArgs
      if (Set("prepareStatement", "prepareCall", "executeQuery", "executeUpdate",
              "execute", "addBatch", "nativeSQL").contains(m.getName) &&
          args.nonEmpty && args(0).isInstanceOf[String])
        statements.add(args(0).asInstanceOf[String])
      val out =
        try m.invoke(target, args: _*)
        catch { case e: InvocationTargetException => throw e.getCause }
      out match {
        case s: java.sql.PreparedStatement => spy(s, classOf[java.sql.PreparedStatement])
        case s: java.sql.Statement         => spy(s, classOf[java.sql.Statement])
        case _                             => out
      }
    }).asInstanceOf[T]

  private[sync] def connectSpied(url: String, info: Properties): Connection =
    spy(DriverManager.getConnection(derbyUrl(url), info), classOf[Connection])
}

/** Top-level (binary name == canonical name, so Spark's DriverRegistry can
  * Class.forName it on executors) with a public no-arg constructor. */
class SpyJdbcDriver extends Driver {
  // make sure the real driver is registered before we delegate
  Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")

  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(SpyJdbc.Prefix)
  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null else SpyJdbc.connectSpied(url, info)
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: Logger = Logger.getGlobal
}
