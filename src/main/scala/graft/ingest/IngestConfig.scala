package graft.ingest

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.yaml.snakeyaml.Yaml

/** App configuration mirroring the reference's Viper config surface
  * (config/config.go:17-49, :102-117; config.yaml):
  * `DATABASE{DB_DRIVER,DB_USER,DB_PASSWORD,DB_HOSTNAME,DB_PORT,DB_NAME}`,
  * `RUNTIME{WORKER_COUNT,FILE_DESTINATION}`, with environment-variable
  * override per key and CONFIG_NAME/CONFIG_DIRECTORY discovery. */
final case class DatabaseConfig(driver: String, user: String, password: String,
    hostname: String, port: Int, name: String) {
  /** JDBC analog of the reference's DSN assembly (main.go:162). */
  def jdbcUrl: String = s"jdbc:postgresql://$hostname:$port/$name"
}

final case class RuntimeConfig(workerCount: Int, fileDestination: String)

final case class IngestConfig(database: DatabaseConfig, runtime: RuntimeConfig)

object IngestConfig {

  /** Load YAML config; every key can be overridden by an environment
    * variable of the same name (Viper AutomaticEnv parity). A DB_PORT or
    * WORKER_COUNT that is not a positive integer is refused, naming the
    * key. */
  def load(path: String, env: Map[String, String] = sys.env): IngestConfig = {
    val root: java.util.Map[String, Object] =
      new Yaml().load(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    val m = root.asScala
    def section(name: String): Map[String, String] =
      m.get(name).collect { case s: java.util.Map[_, _] =>
        s.asScala.map { case (k, v) => String.valueOf(k) -> String.valueOf(v) }.toMap
      }.getOrElse(Map.empty)
    def get(sec: Map[String, String], key: String, dflt: String): String =
      env.getOrElse(key, sec.getOrElse(key, dflt))
    def positive(sec: Map[String, String], key: String, dflt: String): Int = {
      val v = get(sec, key, dflt)
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$v' (config $path)"))
    }

    val db = section("DATABASE")
    val rt = section("RUNTIME")
    IngestConfig(
      DatabaseConfig(
        driver = get(db, "DB_DRIVER", "postgresql"),
        user = get(db, "DB_USER", ""),
        password = get(db, "DB_PASSWORD", ""),
        hostname = get(db, "DB_HOSTNAME", "localhost"),
        port = positive(db, "DB_PORT", "5432"),
        name = get(db, "DB_NAME", "")),
      RuntimeConfig(
        workerCount = positive(rt, "WORKER_COUNT", "2"),
        fileDestination = get(rt, "FILE_DESTINATION", "/tmp/archive")))
  }

  /** CONFIG_NAME/CONFIG_DIRECTORY discovery (config/config.go:102-117). */
  def discover(env: Map[String, String] = sys.env): String = {
    val dir = env.getOrElse("CONFIG_DIRECTORY", ".")
    val name = env.getOrElse("CONFIG_NAME", "config")
    s"$dir/$name.yaml"
  }
}
