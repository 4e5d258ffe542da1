package graft.config

import org.yaml.snakeyaml.Yaml

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** O1 — config catalog (reference: load_table_config,
  * db-sync-local/sync_utils.py:7-11; YAML shape db-sync-local/netflix.yaml:1-7
  * `tables: {name: {sync_config: {check_column, check_type, ignore_columns}}}`).
  *
  * snakeyaml ships on the Spark classpath — no new dependency. Config parsing
  * is driver-side and tiny; the catalog feeds the SyncJob/Runner plan.
  */
sealed trait CheckType
object CheckType {
  case object Id extends CheckType
  case object Timestamp extends CheckType
  /** Reference's unreachable ">=" fallback branch (sync_utils.py:63, SURVEY
    * §2.4-4) — representable so the quirk is explicit. */
  case object Other extends CheckType

  def parse(s: String): CheckType = s match {
    case "id"        => Id
    case "timestamp" => Timestamp
    case _           => Other
  }
}

/** Per-table sync declaration. A table with no sync_config gets a full copy
  * every run (no watermark). */
case class TableConfig(
    name: String,
    checkColumn: Option[String],
    checkType: Option[CheckType],
    ignoreColumns: Seq[String])

object SyncConfig {

  /** Parse the reference's `tables:` YAML map; unknown keys ignored. */
  def parse(yaml: String): Map[String, TableConfig] = {
    val root = Option(new Yaml().load[java.util.Map[String, Object]](yaml))
      .getOrElse(java.util.Map.of[String, Object]())
    // flatMap(Option(_)): a present-but-null `tables:` key yields Some(null)
    // from the map, which would bypass getOrElse and NPE below
    val tables = root.asScala.get("tables").flatMap(Option(_))
      .getOrElse(new java.util.HashMap[String, Object]())
      .asInstanceOf[java.util.Map[String, Object]]
    // VectorMap preserves YAML insertion order (snakeyaml yields a
    // LinkedHashMap) — run sequence follows the authored catalog order,
    // like the reference's dict iteration
    tables.asScala.foldLeft(scala.collection.immutable.VectorMap.empty[String, TableConfig]) {
      case (acc, (name, cfgObj)) =>
        // every .flatMap(Option(_)) below guards the same snakeyaml trap as
        // `tables:` above — a present-but-EMPTY key (`sync_config:` with no
        // body, `check_column:` with no value) yields Some(null), which a
        // bare .map would NPE on
        val sync = Option(cfgObj)
          .map(_.asInstanceOf[java.util.Map[String, Object]].asScala)
          .flatMap(_.get("sync_config")).flatMap(Option(_))
          .map(_.asInstanceOf[java.util.Map[String, Object]].asScala)
        acc.updated(name, TableConfig(
          name = name,
          checkColumn = sync.flatMap(_.get("check_column")).flatMap(Option(_)).map(_.toString),
          checkType = sync.flatMap(_.get("check_type")).flatMap(Option(_))
            .map(v => CheckType.parse(v.toString)),
          ignoreColumns = sync.flatMap(_.get("ignore_columns")).flatMap(Option(_))
            .map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq.map(_.toString))
            .getOrElse(Seq.empty)))
    }
  }

  def loadFile(path: String): Map[String, TableConfig] =
    parse(Files.readString(Paths.get(path)))
}
