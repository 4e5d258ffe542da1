package graft.config

import org.yaml.snakeyaml.Yaml

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Environment-driven configuration surface of the GCP variant:
  *
  *  - `DB_SECRET_INFO` holds a YAML map `service -> { db: { prod|stage:
  *    {instance-connection-name, database-name, username, password} },
  *    table_config: path }`; every `<service>_<tier>` pair becomes a
  *    connection profile and each `table_config` names the service's table
  *    catalog (reference: parse_db_config, db-sync-gcp/gcp_utils.py:15-71).
  *  - `SOURCE_GCS_BUCKET_n` / `DEST_GCS_BUCKET_n` enumerate blob sync pairs
  *    from n=1 until either side is absent (gcp_main.py:12-24).
  *
  * All parsing is driver-side and injectable (`env`, `readFile` params) so
  * specs drive a full two-service catalog from env-shaped input with no
  * process-environment mutation. The reference builds SQLAlchemy pool-of-5
  * engines per profile; the Spark-native transport is a JDBC options map
  * consumed by `sync.JdbcStore` — executors manage their own
  * connections, so no driver-side pool exists to configure.
  */
object EnvConfig {

  val DbSecretInfoVar = "DB_SECRET_INFO"

  /** One `<service>_<tier>` database connection profile. */
  case class ConnectionProfile(
      service: String,
      tier: String,
      instanceConnectionName: String,
      databaseName: String,
      username: String,
      password: String) {

    /** The reference's dictionary key shape (`inventory_prod`). */
    def key: String = s"${service}_$tier"

    /** Spark JDBC reader/writer options for this profile. The instance
      * connection name rides along for a Cloud-SQL-aware socket factory;
      * plain deployments format their own `url` from it. */
    def jdbcOptions: Map[String, String] = Map(
      "user" -> username,
      "password" -> password,
      "database" -> databaseName,
      "instance" -> instanceConnectionName)
  }

  /** Parse DB_SECRET_INFO-shaped YAML into (profiles keyed
    * `<service>_<tier>`, table-config path per service). Services without a
    * `db` key are skipped ENTIRELY — no profiles AND no `table_config` —
    * because the reference's parse_db_config does
    * `if 'db' not in service_config: continue` BEFORE it reads
    * table_config (gcp_utils.py:24-26), so a db-less service's catalog is
    * never loaded. Only the `prod` and `stage` tiers exist in the
    * reference's schema. */
  def parseDbSecretInfo(yaml: String): (Map[String, ConnectionProfile], Map[String, String]) = {
    val root = Option(new Yaml().load[java.util.Map[String, Object]](yaml))
      .getOrElse(java.util.Map.of[String, Object]())
    val services = root.asScala.toSeq.collect {
      case (service, cfg: java.util.Map[_, _]) =>
        service -> cfg.asInstanceOf[java.util.Map[String, Object]].asScala
    }
    val tableConfigs = services.collect {
      case (service, cfg)
        if cfg.get("db").exists(_ != null) && cfg.get("table_config").exists(_ != null) =>
        service -> cfg("table_config").toString
    }.toMap
    val profiles = for {
      (service, cfg) <- services
      dbObj <- cfg.get("db").flatMap(Option(_)).toSeq
      db = dbObj.asInstanceOf[java.util.Map[String, Object]].asScala
      tier <- Seq("prod", "stage")
      tierObj <- db.get(tier).flatMap(Option(_)).toSeq
      t = tierObj.asInstanceOf[java.util.Map[String, Object]].asScala
    } yield {
      val p = ConnectionProfile(
        service = service,
        tier = tier,
        instanceConnectionName = t("instance-connection-name").toString,
        databaseName = t("database-name").toString,
        username = t("username").toString,
        password = t("password").toString)
      p.key -> p
    }
    (profiles.toMap, tableConfigs)
  }

  /** Read DB_SECRET_INFO from the environment; absent -> error, matching
    * the reference's hard ValueError (gcp_utils.py:17-19). */
  def fromEnv(env: String => Option[String] = sys.env.get)
      : (Map[String, ConnectionProfile], Map[String, String]) =
    parseDbSecretInfo(env(DbSecretInfoVar).getOrElse(
      sys.error(s"$DbSecretInfoVar environment variable is not set")))

  /** SOURCE_GCS_BUCKET_n / DEST_GCS_BUCKET_n pairs, n = 1, 2, ... until
    * either side is missing OR set to the empty string — Python truthiness
    * (`while src and dest`) treats "" as absent, and a manifest defaulting
    * a var to "" must terminate enumeration, not sync bucket "". Later
    * pairs after a gap are ignored, exactly like the reference's while
    * loop. Feeds `files.FileSync.syncPairs`. */
  def bucketPairs(env: String => Option[String] = sys.env.get): Seq[(String, String)] =
    Iterator.from(1)
      .map(i => (env(s"SOURCE_GCS_BUCKET_$i"), env(s"DEST_GCS_BUCKET_$i")))
      .takeWhile { case (s, d) =>
        s.exists(_.nonEmpty) && d.exists(_.nonEmpty)
      }
      .map { case (s, d) => (s.get, d.get) }
      .toSeq

  /** Full env-driven catalog: read each service's `table_config` YAML and
    * tag its tables with the service (the load_table_config + per-service
    * merge path, gcp_sync_utils.py:6-28), preserving authored order. */
  def loadCatalog(env: String => Option[String] = sys.env.get,
                  readFile: String => String = p => Files.readString(Paths.get(p)))
      : Map[String, TableConfig] = {
    val (_, tableConfigs) = fromEnv(env)
    SyncConfig.merge(tableConfigs.map { case (svc, path) => svc -> readFile(path) })
  }
}
