package graft.ingest

import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.Properties
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory,
  PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.types._

/** Whole-file-atomic JDBC sink with per-record error isolation.
  *
  * Reference guarantee (SURVEY.md §2.8): every record of the input lands
  * or none do; per-record failures are counted and skipped mid-stream,
  * and ANY record error causes the reduce phase to roll back every
  * worker's transaction (mapreduce/mapreduce.go:44-50, :97-104;
  * dbtransposer/dbtransposer.go:290-364). We implement the *intended*
  * semantics, not the stale-err reporting bug (SURVEY.md §2.7).
  *
  * Spark's stock `df.write.jdbc` commits per partition with no global
  * transaction, so atomicity uses the STAGING-TABLE pattern, run as one
  * DataSource V2 batch write ([[GraftBridge.write]]):
  *   1. the driver creates `<table>_stg_<uuid>`, and each task's
  *      `DataWriter` appends its partition to it in parallel (batched
  *      PreparedStatement — the multi-row VALUES batching of
  *      dbtransposer-schema.go:58-87);
  *   2. the write's `commit` promotes staging → target in ONE transaction
  *      (`INSERT INTO target SELECT * FROM staging`); the staging table is
  *      dropped after the commit or at the `abort`.
  * Scales to any executor count (parallel load) while the commit point
  * stays a single metadata-cheap statement — unlike a single-partition
  * write (no parallelism) or 2PC (coordination). The write runs over the
  * rows of `df`'s own physical plan, so a caller that also exports `df`
  * plans it once.
  *
  * Each task's success/error counts travel in its commit message and are
  * summed at the commit — the distributed mirror of util/utils.go:10-40's
  * mutexed Counter.
  */
object JdbcTransactionalSink {

  final case class IngestResult(total: Long, succeeded: Long, errors: Long,
      committed: Boolean, stagingTable: String, replayed: Boolean = false)

  /** Staging-only bookkeeping column tagging each row with the Spark
    * partition that wrote it (never promoted to the target). */
  private val PartCol = "_graft_part"

  /** If true (reference behavior), any record error rolls back the whole
    * file; if false, good records commit and bad ones are only counted.
    * `numWriters` mirrors RUNTIME.WORKER_COUNT / SetMaxOpenConns
    * (main.go:173): it caps concurrent DB connections by repartitioning
    * before the write. None = keep the upstream partitioning. */
  final case class Options(allOrNothing: Boolean = true, batchSize: Int = 500,
      numWriters: Option[Int] = None)

  def write(df: DataFrame, url: String, props: Properties, table: String,
      opts: Options = Options()): IngestResult =
    write0(df, url, props, table, opts, marker = None)

  /** Effectively-once micro-batch write for Structured Streaming.
    *
    * `foreachBatch` re-delivers a batch id after a crash between the sink
    * commit and the checkpoint commit — the sink, not the engine, owns
    * that last idempotence step (Spark's own foreachBatch contract). The
    * commit marker makes the promote idempotent per (table, batchId):
    *   - marker already present ⇒ the batch landed in a previous attempt;
    *     skip WITHOUT executing the batch DataFrame at all;
    *   - otherwise the marker row is inserted in the SAME transaction as
    *     the staging→target promote, so "promoted" and "marked" are
    *     atomic — a crash at any point leaves either both or neither,
    *     and a concurrent duplicate attempt loses on the marker's
    *     primary key and rolls its promote back.
    */
  def writeBatch(df: DataFrame, url: String, props: Properties, table: String,
      batchId: Long, opts: Options = Options()): IngestResult = {
    ensureBatchLog(url, props, table)
    val already = withConnection(url, props) { c =>
      batchCommitted(c, table, batchId)
    }
    if (already)
      IngestResult(0, 0, 0, committed = true, stagingTable = "", replayed = true)
    else write0(df, url, props, table, opts, marker = Some(batchId))
  }

  /** Per-target commit log of promoted streaming batch ids. */
  def batchLogTable(table: String): String = s"${table}_graft_batches"

  private def ensureBatchLog(url: String, props: Properties, table: String): Unit =
    withConnection(url, props) { c =>
      // no portable CREATE TABLE IF NOT EXISTS — "already exists" is fine
      try exec(c,
        s"CREATE TABLE ${batchLogTable(table)} (batch_id BIGINT PRIMARY KEY)")
      catch { case _: java.sql.SQLException => }
    }

  private def batchCommitted(c: Connection, table: String, batchId: Long): Boolean = {
    val ps = c.prepareStatement(
      s"SELECT 1 FROM ${batchLogTable(table)} WHERE batch_id = ?")
    try { ps.setLong(1, batchId); ps.executeQuery().next() } finally ps.close()
  }

  private def write0(df: DataFrame, url: String, props: Properties, table: String,
      opts: Options, marker: Option[Long]): IngestResult = {
    val staging = s"${table}_stg_${java.util.UUID.randomUUID().toString.replace("-", "").take(10)}"
    val load = new StagingLoad(url, props, table, staging, df.schema, opts, marker)
    // WORKER_COUNT writers repartition the rows in a plan of their own;
    // otherwise the load runs over the caller's plan of `df`
    GraftBridge.write(opts.numWriters.fold(df)(df.repartition(_)), load)
    load.result
  }

  /** The driver side of the load: it creates the staging table, then
    * promotes it at the commit and drops it. */
  private final class StagingLoad(url: String, props: Properties, table: String,
      staging: String, schema: StructType, opts: Options, marker: Option[Long])
      extends BatchWrite {
    var result: IngestResult = _

    // Staging mirrors the TARGET's column types (not the DataFrame's),
    // so per-record type/length violations surface at staging-insert time
    // — the reference's per-record insert error point (mapreduce.go:44-50)
    // — and the promote statement can never fail on data.
    //
    // Staging rows are tagged with the Spark partition id and each task
    // DELETEs its partition's rows before inserting, so a retried task
    // (the write commits per batch, which a plain retry would otherwise
    // double-insert) leaves staging exactly as if it ran once. Two
    // CONCURRENT attempts of one partition (speculation) can still
    // interleave delete/insert — run with spark.speculation=false (the
    // default) for the strict all-or-nothing guarantee.
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      withConnection(url, props) { c =>
        val ddl = targetDdl(c, table, schema).getOrElse(ddlColumns(schema))
        exec(c, s"CREATE TABLE $staging ($ddl, ${quoteId(PartCol)} INTEGER)")
      }
      LoadFactory(url, props, staging, schema, opts.batchSize)
    }

    // each task commits its rows to staging itself; the commit point is the promote
    override def useCommitCoordinator(): Boolean = false

    override def commit(messages: Array[WriterCommitMessage]): Unit = try {
      val counts = messages.map(_.asInstanceOf[LoadMessage])
      val ok = counts.map(_.succeeded).sum
      val err = counts.map(_.errors).sum
      val commit = err == 0 || !opts.allOrNothing
      var lostRace = false
      if (commit) {
        val cols = schema.fieldNames.map(quoteId).mkString(", ")
        withConnection(url, props) { c =>
          c.setAutoCommit(false)
          // marker first: a duplicate attempt fails HERE (primary key) and
          // never reaches the promote — zero duplicate rows under replay
          marker.foreach { id =>
            val ps = c.prepareStatement(
              s"INSERT INTO ${batchLogTable(table)} (batch_id) VALUES (?)")
            try { ps.setLong(1, id); ps.executeUpdate() }
            catch { case _: java.sql.SQLException => lostRace = true }
            finally ps.close()
          }
          if (lostRace) c.rollback()
          else {
            exec(c, s"INSERT INTO $table ($cols) SELECT $cols FROM $staging")
            c.commit()
          }
        }
      }
      result = IngestResult(ok + err, ok, err,
        committed = commit && !lostRace, staging, replayed = lostRace)
    } finally dropStaging()

    override def abort(messages: Array[WriterCommitMessage]): Unit = dropStaging()

    private def dropStaging(): Unit = withConnection(url, props) { c =>
      try exec(c, s"DROP TABLE $staging") catch { case _: java.sql.SQLException => }
    }
  }

  /** What a task of the load needs. */
  private final case class LoadFactory(url: String, props: Properties, staging: String,
      schema: StructType, batchSize: Int) extends DataWriterFactory {
    val insertSql: String =
      s"""INSERT INTO $staging (${schema.fieldNames.map(quoteId).mkString(", ")}, ${quoteId(PartCol)})
         |VALUES (${schema.fields.map(_ => "?").mkString(", ")}, ?)""".stripMargin
    override def createWriter(partition: Int, taskId: Long): DataWriter[InternalRow] =
      new LoadTask(this, partition)
  }

  /** A task's rows inserted into staging and rows refused. */
  private final case class LoadMessage(succeeded: Long, errors: Long)
      extends WriterCommitMessage

  /** One partition into staging, in batches of `batchSize` rows, each
    * committed. A batch that fails is replayed row by row, so one bad
    * record does not take down its batch (skip-and-continue,
    * mapreduce.go:44-50). The connection opens at the first row: an empty
    * partition opens none. */
  private final class LoadTask(f: LoadFactory, partition: Int)
      extends DataWriter[InternalRow] {
    private val binders = f.schema.fields.zipWithIndex.map { case (field, i) =>
      binder(field.dataType, i)
    }
    // the rows of the batch in flight, copied: the input reuses its rows
    private val pending = new ArrayBuffer[InternalRow](f.batchSize)
    private var conn: Connection = _
    private var ps: PreparedStatement = _
    private var ok = 0L
    private var err = 0L

    /** Connects and clears what a failed earlier attempt of this
      * partition already committed into staging (idempotent retry). */
    private def open(): Unit = {
      conn = DriverManager.getConnection(f.url, f.props)
      conn.setAutoCommit(false)
      val del = conn.prepareStatement(s"DELETE FROM ${f.staging} WHERE ${quoteId(PartCol)} = ?")
      try { del.setInt(1, partition); del.executeUpdate(); conn.commit() }
      finally del.close()
      ps = conn.prepareStatement(f.insertSql)
    }

    private def bindRow(r: InternalRow): Unit = {
      var i = 0
      while (i < binders.length) { binders(i)(ps, r); i += 1 }
      ps.setInt(binders.length + 1, partition)
    }

    override def write(row: InternalRow): Unit = {
      if (conn == null) open()
      bindRow(row)
      ps.addBatch()
      pending += row.copy()
      if (pending.length >= f.batchSize) flush()
    }

    private def flush(): Unit = if (pending.nonEmpty) {
      try {
        ps.executeBatch()
        ok += pending.length
      } catch {
        case _: java.sql.SQLException =>
          conn.rollback()
          pending.foreach { r =>
            try {
              bindRow(r); ps.executeUpdate(); conn.commit()
              ok += 1
            } catch {
              case _: java.sql.SQLException => conn.rollback(); err += 1
            }
          }
      }
      ps.clearBatch()
      pending.clear()
      conn.commit()
    }

    override def commit(): WriterCommitMessage = {
      if (conn != null) flush()
      LoadMessage(ok, err)
    }

    override def abort(): Unit = if (conn != null) conn.rollback()

    override def close(): Unit = if (conn != null) try conn.close() finally conn = null
  }

  /** Binds field `i` of a row to parameter `i + 1`. A type with no setter
    * here binds the text of its external value. */
  private def binder(dt: DataType, i: Int): (PreparedStatement, InternalRow) => Unit = {
    val p = i + 1
    val set: (PreparedStatement, InternalRow) => Unit = dt match {
      case LongType => (ps, r) => ps.setLong(p, r.getLong(i))
      case IntegerType => (ps, r) => ps.setInt(p, r.getInt(i))
      case DoubleType => (ps, r) => ps.setDouble(p, r.getDouble(i))
      case BooleanType => (ps, r) => ps.setBoolean(p, r.getBoolean(i))
      case TimestampType =>
        (ps, r) => ps.setTimestamp(p, DateTimeUtils.toJavaTimestamp(r.getLong(i)))
      case _: StringType => (ps, r) => ps.setString(p, r.getUTF8String(i).toString)
      case _ =>
        val toScala = CatalystTypeConverters.createToScalaConverter(dt)
        (ps, r) => ps.setString(p, String.valueOf(toScala(r.get(i, dt))))
    }
    // Types.NULL is not portable (Derby rejects it) — use the column type
    (ps, r) => if (r.isNullAt(i)) ps.setNull(p, sqlType(dt)) else set(ps, r)
  }

  /** DDL for the df's columns copied from the target table's metadata
    * (column type + length), so staging enforces identical constraints. */
  private def targetDdl(c: Connection, table: String,
      schema: StructType): Option[String] = {
    try {
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT * FROM $table WHERE 1=0")
        val md = rs.getMetaData
        val byName = (1 to md.getColumnCount).map { i =>
          val tn = md.getColumnTypeName(i)
          val sized = md.getColumnType(i) match {
            case java.sql.Types.VARCHAR | java.sql.Types.CHAR |
                 java.sql.Types.NVARCHAR | java.sql.Types.NCHAR =>
              s"$tn(${md.getPrecision(i)})"
            case java.sql.Types.DECIMAL | java.sql.Types.NUMERIC =>
              s"$tn(${md.getPrecision(i)},${md.getScale(i)})"
            case _ => tn
          }
          md.getColumnName(i).toLowerCase -> sized
        }.toMap
        val cols = schema.fieldNames.map { n =>
          byName.get(n.toLowerCase).map(t => s"${quoteId(n)} $t")
        }
        if (cols.forall(_.isDefined)) Some(cols.flatten.mkString(", ")) else None
      } finally st.close()
    } catch { case _: java.sql.SQLException => None }
  }

  /** Spark → ANSI DDL type mapping (README.md:85-97 DDL shape). */
  private def ddlColumns(schema: StructType): String =
    schema.fields.map { f =>
      val t = f.dataType match {
        case LongType => "BIGINT"
        case IntegerType => "INTEGER"
        case DoubleType => "DOUBLE PRECISION"
        case BooleanType => "BOOLEAN"
        case TimestampType => "TIMESTAMP"
        case _ => "VARCHAR(255)"
      }
      s"${quoteId(f.name)} $t"
    }.mkString(", ")

  private def quoteId(name: String): String = "\"" + name + "\""

  private def sqlType(dt: DataType): Int = dt match {
    case LongType => java.sql.Types.BIGINT
    case IntegerType => java.sql.Types.INTEGER
    case DoubleType => java.sql.Types.DOUBLE
    case BooleanType => java.sql.Types.BOOLEAN
    case TimestampType => java.sql.Types.TIMESTAMP
    case _ => java.sql.Types.VARCHAR
  }

  private def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  private def withConnection[T](url: String, props: Properties)(f: Connection => T): T = {
    val c = DriverManager.getConnection(url, props)
    try f(c) finally {
      // a failed statement can leave an aborted txn open (Derby refuses to
      // close then) — roll it back before closing
      try if (!c.getAutoCommit) c.rollback() catch { case _: java.sql.SQLException => }
      try c.rollback() catch { case _: java.sql.SQLException => }
      try c.close() catch { case _: java.sql.SQLException => }
    }
  }
}
