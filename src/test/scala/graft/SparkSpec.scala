package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A new directory under the system temp dir. It is deleted, with
    * everything written into it, when the suite ends. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  /** Spark jobs started by `f` on this thread. */
  def jobsDuring(s: SparkSession)(f: => Unit): Int = {
    val started = new AtomicInteger(0)
    eventsDuring(s) { case _: SparkListenerJobStart => started.incrementAndGet() }(f)
    started.get
  }

  /** Runs `f` and hands `on` the start and end of each Spark job `f`
    * starts on this thread, and every block update posted meanwhile, in
    * bus order. Listener events arrive asynchronously but in order, so
    * once a marker job submitted after `f` is seen, every event `f`
    * caused has been handed on. */
  def eventsDuring(s: SparkSession)(on: PartialFunction[SparkListenerEvent, Unit])(
      f: => Unit): Unit = {
    val sc = s.sparkContext
    val group = s"jobs-during-${System.nanoTime}"
    val marker = s"$group-marker"
    val jobs = ConcurrentHashMap.newKeySet[Int]()
    val markerSeen = new CountDownLatch(1)
    def handle(e: SparkListenerEvent): Unit =
      if (markerSeen.getCount > 0) on.applyOrElse(e, (_: SparkListenerEvent) => ())
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(e.jobId); handle(e)
          case Some(`marker`) => markerSeen.countDown()
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) handle(e)
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = handle(e)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted jobs")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener flush")
      try s.range(1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS),
        "the listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach(dir => FileUtils.deleteQuietly(dir.toFile))
}

object SparkSpec {
  /** The engine's session ([[GraftSession]]): what Bench and Verify run. */
  lazy val session: SparkSession = {
    // the session lives as long as the test JVM, so its warehouse goes
    // when the JVM exits
    val warehouse = Files.createTempDirectory("graft_wh")
    sys.addShutdownHook(FileUtils.deleteQuietly(warehouse.toFile))
    GraftSession(
      // local[4,2]: allow one task retry so retry-semantics tests (e.g.
      // idempotent JDBC staging) can exercise Spark's real re-execution
      "spark.master" -> "local[4,2]",
      "spark.sql.warehouse.dir" -> warehouse.toString)
  }

  /** A child of [[session]] for reference forms that must plan as stock
    * Spark: under the band rewrite a residual join would become the
    * operator it is compared against.
    * The child keeps the engine's extensions; with the rewrite off none
    * of them touches a stock join (the skew rule matches only graft's
    * execs). */
  lazy val plainSession: SparkSession = {
    val s = session.newSession()
    s.conf.set(graft.plans.BandJoinAutoRewrite.ConfKey, "false")
    s
  }
}
