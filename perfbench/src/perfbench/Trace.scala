package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Spans of one operation share
  * `trace`; `parent` is 0 for a root. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work of one or more jobs: jobs and their stages, and their
  * tasks' run time, longest task, shuffle bytes and GC time. */
final class Work {
  var jobs = 0; var stages = 0; var tasks = 0
  var taskNs = 0L; var maxTaskNs = 0L; var shuffleBytes = 0L; var gcNs = 0L
  def add(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskNs += o.taskNs
    maxTaskNs = math.max(maxTaskNs, o.maxTaskNs); shuffleBytes += o.shuffleBytes; gcNs += o.gcNs
    this
  }
}

/** One Spark job started under a span: its call site (the long form,
  * the driver stack that started it) and its start, in epoch
  * milliseconds as the scheduler stamped it. */
final case class Job(id: Int, site: String, startMs: Long)

/** In-memory span recorder plus a SparkListener that attributes jobs,
  * stages and tasks to the innermost open span through a job-local
  * property. The driver thread is the only client, so a plain stack
  * tracks nesting; listener events arrive on one bus thread and are read
  * only after the bus is drained. Spans stay in memory until [[write]]. */
final class Tracer(sc: SparkContext) {
  private val Prop = "perfbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val work = new java.util.concurrent.ConcurrentHashMap[Int, Work]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private var stack = List.empty[(Int, Int)] // (span id, trace id)
  private var nextId = 0
  private var nextTrace = 0

  private val listener = new SparkListener {
    private def w(stage: Int): Option[Work] =
      if (stageJob.containsKey(stage)) Option(work.get(stageJob.get(stage))) else None
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { s =>
        jobSpan.put(e.jobId, s.toInt)
        jobs.put(e.jobId, Job(e.jobId, e.stageInfos.headOption.map(_.details).getOrElse(""), e.time))
        val x = new Work; x.jobs = 1
        work.put(e.jobId, x)
        e.stageIds.foreach(id => stageJob.put(id, e.jobId))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      w(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskMetrics != null) w(e.stageId).foreach { x =>
        val m = e.taskMetrics
        x.tasks += 1
        x.taskNs += m.executorRunTime * 1000000L
        x.maxTaskNs = math.max(x.maxTaskNs, e.taskInfo.duration * 1000000L)
        x.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        x.gcNs += m.jvmGCTime * 1000000L
      }
  }

  /** Runs `body` with tracing on (listener attached, spans recorded) or
    * off (exactly the untraced code path). */
  def traced[T](on: Boolean)(body: => T): T =
    if (!on) body
    else {
      sc.addSparkListener(listener); recording = true
      try body
      finally {
        recording = false
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    }
  private var recording = false

  /** Opens the root span that every later span hangs under; it is
    * recorded by [[closeRoot]]. */
  def openRoot(name: String): Unit = {
    nextId += 1
    root = Some((nextId, name, System.nanoTime()))
    stack = List((nextId, 0))
  }
  def closeRoot(): Unit = root.foreach { case (id, name, t0) =>
    spans += Span(id, 0, 0, name, t0, System.nanoTime()); root = None; stack = Nil
  }
  private var root: Option[(Int, String, Long)] = None

  /** Time `body` as a span named `name` while recording; `op` starts a
    * new trace (one per operation). */
  def span[T](name: String, op: Boolean = false)(body: => T): T =
    if (!recording) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val trace =
        if (op || stack.isEmpty) { nextTrace += 1; nextTrace } else stack.head._2
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, id.toString)
      stack = (id, trace) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Prop, prev)
        spans += Span(id, parent, trace, name, t0, t1)
      }
    }

  /** Id of the innermost open span. */
  def current: Int = stack.head._1

  /** Records a span that was not timed around a call: a child of the
    * recorded span `parent`, in its trace. Returns its id. */
  def addSpan(name: String, parent: Int, startNs: Long, endNs: Long): Int = {
    nextId += 1
    spans += Span(nextId, parent, spans.find(_.id == parent).fold(0)(_.trace), name, startNs, endNs)
    nextId
  }

  /** Jobs started under span `id`, in start order. */
  def jobsOf(id: Int): Seq[Job] =
    jobSpan.asScala.collect { case (j, s) if s == id => jobs.get(j) }.toSeq.sortBy(_.startMs)

  /** Attributes the given jobs to span `id` instead. */
  def moveJobs(ids: Seq[Int], id: Int): Unit = ids.foreach(jobSpan.put(_, id))

  def all: Seq[Span] = spans.toSeq
  def workOf(id: Int): Work =
    jobSpan.asScala.collect { case (j, s) if s == id => work.get(j) }.foldLeft(new Work)(_ add _)

  /** Span duration minus the part of it covered by its children. */
  def selfNs(spansById: Map[Int, Seq[Span]], s: Span): Long = {
    val kids = spansById.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var end = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, end)
      if (b > lo) { covered += b - lo; end = b }
    }
    (s.endNs - s.startNs) - covered
  }

  /** Write every span as one JSON line, then a per-name summary of self
    * time; returns that summary (name -> total self seconds). */
  def write(path: java.nio.file.Path): Seq[(String, Double)] = {
    val ss = all
    val byParent = ss.groupBy(_.parent)
    val out = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(path))
    val self = mutable.LinkedHashMap[String, Double]()
    try ss.sortBy(_.startNs).foreach { s =>
      val selfS = selfNs(byParent, s) / 1e9
      self(s.name) = self.getOrElse(s.name, 0.0) + selfS
      val w = workOf(s.id)
      out.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> selfS, "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
        "task_s" -> w.taskNs / 1e9, "max_task_s" -> w.maxTaskNs / 1e9,
        "shuffle_bytes" -> w.shuffleBytes, "gc_s" -> w.gcNs / 1e9)))
    } finally out.close()
    self.toSeq
  }
}
