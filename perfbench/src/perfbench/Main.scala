package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one workload run measured. Metrics are (name, value, unit). */
final case class Result(attempted: Int, failed: Int,
    e2e: Seq[(String, Double, String)], layers: Seq[(String, Double, String)])

/** Everything a workload needs for one run. `t0Ns` is the epoch time, in
  * nanoseconds, at which set-up started: the launch of this JVM. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: File, val fingerprints: File, t0Ns: Long) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val tracer = new Tracer(spark.sparkContext)
  private var setup = -1.0
  private def nowNs = { val i = java.time.Instant.now(); i.getEpochSecond * 1000000000L + i.getNano }
  /** Ends the set-up interval: called just before the first timed operation. */
  def markFirstOp(): Unit = if (setup < 0) setup = (nowNs - t0Ns) / 1e9
  def setupSeconds: Double = setup
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU time of each live Java thread, by thread id, in nanoseconds:
    * the driver, Spark's scheduler and executor task threads. The JIT
    * compiler and GC threads are not among them, and time the host steals
    * from a virtual CPU or other processes take is not counted. */
  def cpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).toMap
  }
  /** Seconds of Java-thread CPU time since the snapshot `from`. A
    * thread that ended in between is left out. */
  def cpuSince(from: Map[Long, Long]): Double =
    cpu().map { case (id, ns) => ns - from.getOrElse(id, 0L) }.filter(_ > 0).sum / 1e9
  /** Progress note on stderr, stamped with seconds since process start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(nowNs - t0Ns) / 1e9}%7.2f s  $msg")
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --result <file> [--spans <file>] [--fingerprints <file>]
  * [--t0-ns <epoch ns>]`, or `--record <file>` to record the result
  * fingerprints. Writes the result object to `--result`. */
object Main {
  val Workloads = Seq("ingest_files", "queries_warm")

  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work"))
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(work, cores)
    try {
      if (a.contains("record")) record(spark, work, new File(a("record")))
      else {
        val workload = a("workload")
        require(Workloads.contains(workload), s"unknown workload $workload")
        val t0 = a.get("t0-ns").map(_.toLong)
          .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L)
        val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
          work, new File(a.getOrElse("fingerprints", "perfbench/fingerprints.tsv")), t0)
        ctx.tracer.openRoot(s"workload:$workload")
        val r = if (workload == "ingest_files") IngestWorkload.run(ctx) else QueryWorkload.run(ctx)
        ctx.tracer.closeRoot()
        val metrics =
          if (!ctx.trace) ("setup_s", ctx.setupSeconds, "s") +: r.e2e
          else {
            val spans = a.get("spans").map(new File(_))
            spans.foreach(f => selfTimes(ctx, f))
            val got = r.layers.map(m => m._1 -> m).toMap
            Metrics.perLayer.map { case (n, u) => got.get(n).getOrElse((n, 0.0, u)) } :+
              ("jvm.peak_heap_mb", peakHeapMb, "MB")
          }
        val json = Json.obj(Seq("correct" -> (r.failed == 0), "attempted" -> r.attempted,
          "failed" -> r.failed, "metrics" -> metrics.map { case (n, v, u) =>
            n -> Seq("value" -> v, "unit" -> u) }))
        Files.write(new File(a("result")).toPath, (json + "\n").getBytes(UTF_8))
      }
    } finally spark.stop()
  }

  /** Writes the spans and prints each layer's self time to stderr. */
  private def selfTimes(ctx: Ctx, f: File): Unit = {
    val self = ctx.tracer.write(f.toPath)
      .groupBy { case (n, _) => n.takeWhile(_ != ':') }.view.mapValues(_.map(_._2).sum).toSeq
    System.err.println(s"[perfbench] spans written to $f; self time by layer:")
    self.sortBy(-_._2).foreach { case (n, s) => System.err.println(f"[perfbench]   $n%-28s $s%9.3f s") }
  }

  private def peakHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6

  /** Runs every checked query once and writes their fingerprints. */
  private def record(spark: SparkSession, work: File, out: File): Unit = {
    val dir = new File(work, "data").getPath
    DataGen.write(spark, dir)
    val plain = QueryWorkload.Names.map { n =>
      n -> Fingerprint.ofDataFrame(graft.SparkEntry.queries(n)(spark, dir))
    }
    val s = spark.newSession()
    s.conf.set(graft.IndexStore.RootKey, new File(work, "index").getPath)
    val indexed = QueryWorkload.IndexQueries.map { case (n, _) =>
      n -> Fingerprint.ofDataFrame(graft.SparkEntry.queries(n)(s, dir))
    }
    Fingerprints.save(out, "Result fingerprints of the checked queries over the generated\n" +
      "dataset (count:hash). Regenerate with: python3 perfbench/run.py --record", plain ++ indexed)
  }
}
