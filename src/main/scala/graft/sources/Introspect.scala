package graft.sources

import java.sql.Connection
import scala.collection.mutable.ArrayBuffer

/** O2/O3 — relational catalog introspection (reference: get_table_schema /
  * get_primary_keys, db-sync-local/sync_utils.py:141-237).
  *
  * Driver-side JDBC metadata calls — the one place the engine talks to the
  * catalog rather than the data path. Spark's own JDBC relation resolves the
  * read StructType (JdbcUtils.getSchema); this module supplies what Spark
  * does not: primary-key discovery (with the reference's all-columns
  * fallback) and the reference's type-string rendering used in upsert DDL
  * contexts.
  */
object Introspect {

  case class ColumnMeta(name: String, typeName: String, nullable: Boolean,
                        charLength: Option[Int] = None,
                        precision: Option[Int] = None, scale: Option[Int] = None,
                        isArray: Boolean = false)

  /** Render the reference's type string (sync_utils.py:220-226):
    * `udt_name[]` for arrays, `type(n)` for varchar, `type(p,s)` for
    * numerics, bare name otherwise. */
  def renderType(c: ColumnMeta): String =
    if (c.isArray) s"${c.typeName}[]"
    else (c.typeName.toLowerCase, c.charLength, c.precision, c.scale) match {
      case (t @ ("varchar" | "character varying" | "char"), Some(n), _, _) => s"$t($n)"
      case (t @ ("numeric" | "decimal"), _, Some(p), Some(s))              => s"$t($p,$s)"
      case (t, _, _, _)                                                    => t
    }

  /** PK columns via DatabaseMetaData, in key-sequence order. */
  def primaryKeys(conn: Connection, table: String): Seq[String] = {
    val rs = conn.getMetaData.getPrimaryKeys(null, null, table)
    val keys = ArrayBuffer.empty[(Short, String)]
    while (rs.next()) keys += ((rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME")))
    rs.close()
    keys.sortBy(_._1).map(_._2).toSeq
  }

  /** The reference's conflict-key rule: discovered PKs, else ALL columns
    * (sync_utils.py:156-168 — upsert degenerates to
    * insert-if-identical-row-absent). Pure; unit-tested. */
  def conflictKey(discoveredPks: Seq[String], allColumns: Seq[String]): Seq[String] =
    if (discoveredPks.nonEmpty) discoveredPks else allColumns
}
