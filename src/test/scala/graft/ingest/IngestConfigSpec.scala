package graft.ingest

import org.scalatest.funsuite.AnyFunSuite

/** Config surface parity (config/config.go:17-49, :102-117). */
class IngestConfigSpec extends AnyFunSuite {

  test("loads the reference config.yaml keys") {
    val cfg = IngestConfig.load("/root/reference/config.yaml", env = Map.empty)
    assert(cfg.database.driver == "pgx")
    assert(cfg.database.user == "root")
    assert(cfg.database.hostname == "localhost")
    assert(cfg.database.port == 5432)
    assert(cfg.database.name == "testdb")
    assert(cfg.runtime.workerCount == 2)
    assert(cfg.runtime.fileDestination == "/mnt/efs/")
  }

  test("environment variables override file values per key") {
    val cfg = IngestConfig.load("/root/reference/config.yaml",
      env = Map("DB_HOSTNAME" -> "db.prod", "WORKER_COUNT" -> "16"))
    assert(cfg.database.hostname == "db.prod")
    assert(cfg.runtime.workerCount == 16)
    assert(cfg.database.user == "root") // non-overridden keys keep file values
  }

  test("jdbc url assembly mirrors the reference DSN (main.go:162)") {
    val cfg = IngestConfig.load("/root/reference/config.yaml", env = Map.empty)
    assert(cfg.database.jdbcUrl == "jdbc:postgresql://localhost:5432/testdb")
  }

  test("a DB_PORT or WORKER_COUNT that is not a positive integer is refused by name") {
    val f = java.nio.file.Files.createTempFile("graft_config", ".yaml")
    try {
      for ((yaml, key) <- Seq("RUNTIME:\n  WORKER_COUNT: 0\n" -> "WORKER_COUNT",
          "DATABASE:\n  DB_PORT: abc\n" -> "DB_PORT")) {
        java.nio.file.Files.writeString(f, yaml)
        val e = intercept[IllegalArgumentException](IngestConfig.load(f.toString, env = Map.empty))
        assert(e.getMessage.contains(key), e.getMessage)
      }
      assert(intercept[IllegalArgumentException](IngestConfig.load(f.toString,
        env = Map("DB_PORT" -> "5432", "WORKER_COUNT" -> "-2"))).getMessage.contains("WORKER_COUNT"))
    } finally java.nio.file.Files.delete(f)
  }

  test("CONFIG_NAME/CONFIG_DIRECTORY discovery") {
    assert(IngestConfig.discover(Map.empty) == "./config.yaml")
    assert(IngestConfig.discover(Map(
      "CONFIG_DIRECTORY" -> "/etc/graft", "CONFIG_NAME" -> "prod")) ==
      "/etc/graft/prod.yaml")
  }
}
