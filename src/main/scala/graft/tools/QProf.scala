package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.scheduler._

/** Per-query stage-level profiler (round 16): for each named query, after
  * a warmup rep, times one rep and prints per-stage task counts, summed
  * task time, and max task time, plus the wall-vs-task-time gap (the
  * driver/scheduling overhead the stage metrics cannot see).
  * Usage: graft.tools.QProf <sfDir> <q1,q2,...> [reps]
  */
object QProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession()

    final case class St(name: String, var tasks: Int = 0,
      var taskMs: Long = 0, var maxMs: Long = 0, var gcMs: Long = 0,
      var submitted: Long = 0, var completed: Long = 0,
      var shufReadB: Long = 0, var shufWriteB: Long = 0, var inputB: Long = 0)
    val stages = scala.collection.mutable.LinkedHashMap[Int, St]()
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        stages.getOrElseUpdate(s.stageInfo.stageId,
          St(s.stageInfo.name.take(60))).submitted = System.currentTimeMillis()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val st = stages.getOrElseUpdate(s.stageInfo.stageId,
          St(s.stageInfo.name.take(60)))
        st.completed = System.currentTimeMillis()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val st = stages.getOrElseUpdate(t.stageId, St("?"))
        st.tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          val ms = m.executorRunTime
          st.taskMs += ms
          if (ms > st.maxMs) st.maxMs = ms
          st.gcMs += m.jvmGCTime
          st.shufReadB += m.shuffleReadMetrics.totalBytesRead
          st.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          st.inputB += m.inputMetrics.bytesRead
        }
      }
    }

    def mat(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warmup at sf0.001 (codegen) then at sfDir (memos, broadcasts warm)
      try mat(fn(spark, "/root/testdata/sf0.001")) catch { case NonFatal(_) => }
      mat(fn(spark, sfDir))
      (1 to reps).foreach { rep =>
        stages.clear(); jobs = 0
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tPlan = System.nanoTime()
        mat(df)
        val t1 = System.nanoTime()
        Thread.sleep(300) // let the listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        val wallMs = (t1 - t0) / 1e6
        val buildMs = (tPlan - t0) / 1e6
        val taskSum = stages.values.map(_.taskMs).sum
        println(f"== $name rep$rep wall=${wallMs}%.0fms build=${buildMs}%.0fms jobs=$jobs stages=${stages.size} taskSum=${taskSum}ms")
        stages.toSeq.sortBy(_._1).foreach { case (id, s) =>
          val span = if (s.completed > 0 && s.submitted > 0) s.completed - s.submitted else -1
          println(f"  stage $id%4d tasks=${s.tasks}%3d span=${span}%5dms taskSum=${s.taskMs}%5dms max=${s.maxMs}%5dms gc=${s.gcMs}%4dms in=${s.inputB/1024}%6dKB sr=${s.shufReadB/1024}%5dKB sw=${s.shufWriteB/1024}%5dKB  ${s.name}")
        }
      }
    }
    spark.stop()
  }
}
