package graft

import java.util.Properties
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.message.StringMapMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ingest._

/** CLI entry point mirroring the reference pipeline (main.go:24-151):
  * required flags `-file`, `-model`, `-table` (main.go:40-50), plus
  * export/archival options made explicit (the reference runs the
  * CSV/Excel export unconditionally on the XML path — SURVEY.md EP2 notes
  * that as a wart; here `--export-dir` opts in).
  *
  * Pipeline: detect format by extension (fileloader.go:246-253) → typed
  * read → flatten → whitelist projection → optional file sinks →
  * optional atomic JDBC load → archive input.
  *
  * A file with every sink takes 2 Spark jobs. The export job
  * (`--export-dir`) parses and flattens the file and writes the CSV and
  * JSON part files and the xlsx rows from that one pass
  * ([[graft.ingest.Sinks.exportFiles]]). The JDBC load (`--jdbc`) parses it
  * again in a job of its own: it is repartitioned into WORKER_COUNT
  * writers, while the exports keep the record order, and one job cannot
  * have both partitionings. Nothing is cached. The row count is the
  * export's, else the load's `total`; only a run with no sink counts in
  * a job of its own.
  */
object Main {

  // log4j2 (ships with Spark) with key=value fields — the reference logs
  // the same run summary through zap's structured fields (main.go:132-138)
  private val log = LogManager.getLogger("graft.ingest")

  final case class Args(file: String = null, model: String = "MistAMS",
      table: String = null, exportDir: String = null, jdbc: Boolean = false,
      archive: Boolean = false, configPath: String = null,
      jdbcUrl: String = null, template: String = null, schemaMap: String = null)

  private val usage =
    "usage: graft.Main -file <path> -model <name> -table <table> " +
      "[--template <xlsx>] [--schema-map <json>] [--export-dir <dir>] " +
      "[--jdbc] [--archive] [--config <path>] [--jdbc-url <url>]"

  def main(argv: Array[String]): Unit = {
    val args = parse(argv) match {
      case Right(a) => a
      case Left(err) =>
        // like Go's flag package in the reference (main.go:40-50): a bad
        // command line prints the error and the usage, and exits 2
        System.err.println(s"[graft] $err")
        System.err.println(usage)
        sys.exit(2)
    }
    val spark = GraftSession()
    try {
      val result = run(spark, args)
      println(s"[graft] flattened rows: ${result._2}")
    } finally spark.stop()
  }

  /** Runs the pipeline; returns (flattened df, row count) for testability. */
  def run(spark: SparkSession, args: Args): (DataFrame, Long) = {
    // Declarative schema acquisition, as in the reference's startup
    // (main.go:65 loads db-template.xlsx row 3 as the column whitelist):
    // edit the template → the projection changes, no code change.
    val whitelist =
      if (args.template != null) IngestSchema.columnsFromXlsx(args.template)
      else IngestSchema.sinkColumns
    // -model selects the rename block in data-schema.json (the
    // reference's declared-but-dead mapping, honored here as intent —
    // SURVEY.md §1.2 / fileloader-schema.go:25-58 model dispatch). The
    // read schema uses SOURCE field names so mapped fields are captured.
    val mapping: Map[String, String] =
      if (args.schemaMap != null) IngestSchema.mappingFromJson(args.schemaMap, args.model)
      else Map.empty
    val readSchema = IngestSchema.sourceSchema(mapping)
    val raw = detectFileType(args.file) match {
      case "json" => JsonIngest.read(spark, args.file, readSchema)
      case "xml" => XmlRecordReader.read(spark, args.file, "Record", readSchema)
      case other => throw new IllegalArgumentException(s"unsupported file type: $other")
    }
    val flat = JsonIngest.applyMapping(Flatten(raw), mapping)
    val projected = JsonIngest.projectWhitelist(flat, whitelist,
      IngestSchema.flattened.fields.map(f => f.name -> f.dataType).toMap)
    val exported = Option(args.exportDir).map(Sinks.exportFiles(projected, _))
    val loaded = Option.when(args.jdbc)(load(args, projected))
    val n = exported.orElse(loaded).getOrElse(projected.count())
    (projected, n)
  }

  /** The atomic JDBC load, then the archive move if it committed.
    * `--jdbc-url` overrides the config-derived DSN (e.g. embedded Derby
    * for local runs); otherwise config.yaml assembles the URL exactly
    * like the reference (main.go:162). The archive goes to the config's
    * FILE_DESTINATION whenever `--config` is given, as in the reference;
    * with `--jdbc-url` and no `--config` it goes to /tmp/graft-archive.
    * A loaded config's WORKER_COUNT is the number of concurrent DB
    * writers (main.go:173); without one the input's partitioning is
    * kept. Returns the load's `total`. */
  private def load(args: Args, df: DataFrame): Long = {
    val props = new Properties()
    val cfg = Option(args.configPath)
      .orElse(Option.when(args.jdbcUrl == null)(IngestConfig.discover()))
      .map(IngestConfig.load(_))
    val url = Option(args.jdbcUrl).getOrElse {
      val db = cfg.get.database // loaded: there is no --jdbc-url
      props.setProperty("user", db.user)
      props.setProperty("password", db.password)
      db.jdbcUrl
    }
    val res = JdbcTransactionalSink.write(df, url, props, args.table,
      JdbcTransactionalSink.Options(numWriters = cfg.map(_.runtime.workerCount)))
    // the reference logs total/succeeded/errors at main.go:132-138
    log.info(new StringMapMessage()
      .`with`("event", "ingest_complete")
      .`with`("file", args.file)
      .`with`("model", args.model)
      .`with`("table", args.table)
      .`with`("total", res.total.toString)
      .`with`("succeeded", res.succeeded.toString)
      .`with`("errors", res.errors.toString)
      .`with`("committed", res.committed.toString))
    println(s"[graft] table=${args.table} total=${res.total} " +
      s"succeeded=${res.succeeded} errors=${res.errors} committed=${res.committed}")
    if (args.archive && res.committed)
      Archive.moveInputFile(args.file,
        cfg.fold("/tmp/graft-archive")(_.runtime.fileDestination))
    res.total
  }

  /** Extension-based format dispatch (fileloader.go:246-253). */
  def detectFileType(path: String): String =
    path.substring(path.lastIndexOf('.') + 1).toLowerCase

  private val valueFlags: Map[String, (Args, String) => Args] = Map(
    "-file" -> ((a, v) => a.copy(file = v)),
    "-model" -> ((a, v) => a.copy(model = v)),
    "-table" -> ((a, v) => a.copy(table = v)),
    "--export-dir" -> ((a, v) => a.copy(exportDir = v)),
    "--config" -> ((a, v) => a.copy(configPath = v)),
    "--template" -> ((a, v) => a.copy(template = v)),
    "--schema-map" -> ((a, v) => a.copy(schemaMap = v)),
    "--jdbc-url" -> ((a, v) => a.copy(jdbcUrl = v)))

  private val switchFlags: Map[String, Args => Args] = Map(
    "--jdbc" -> (_.copy(jdbc = true)),
    "--archive" -> (_.copy(archive = true)))

  /** Parses the command line; Left(error) on an unknown flag, a value
    * flag given no value, or a missing required flag. */
  private[graft] def parse(argv: Array[String]): Either[String, Args] = {
    @scala.annotation.tailrec
    def go(rest: List[String], a: Args): Either[String, Args] = rest match {
      case Nil =>
        // all three flags are required, as in main.go:44-50
        if (a.file == null || a.model == null || a.table == null)
          Left("-file, -model and -table are required")
        else Right(a)
      case f :: tail if switchFlags.contains(f) => go(tail, switchFlags(f)(a))
      case f :: v :: tail if valueFlags.contains(f) => go(tail, valueFlags(f)(a, v))
      case f :: _ if valueFlags.contains(f) => Left(s"flag needs an argument: $f")
      case f :: _ => Left(s"flag provided but not defined: $f")
    }
    // model starts unset so a command line without -model is refused;
    // the case-class default serves programmatic callers
    go(argv.toList, Args(model = null))
  }
}
