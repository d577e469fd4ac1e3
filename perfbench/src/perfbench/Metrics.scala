package perfbench

/** Names and units of the per-layer metrics every traced run prints, in
  * print order (`jvm.peak_heap_mb` is appended by Main). A layer that a
  * workload does not exercise reads 0 there. */
object Metrics {
  val ingest: Seq[(String, String)] = Seq(
    "ingest.read.s" -> "s", "ingest.read.records_per_s" -> "1/s",
    "ingest.flatten.s" -> "s", "ingest.flatten.rows_per_record" -> "ratio",
    "ingest.export.csv_s" -> "s", "ingest.export.json_s" -> "s", "ingest.export.xlsx_s" -> "s",
    "ingest.jdbc.s" -> "s", "ingest.jdbc.rows_per_s" -> "1/s",
    "ingest.jdbc.rolled_back_files" -> "count", "ingest.jdbc.useful_ratio" -> "ratio",
    "ingest.archive.s" -> "s", "ingest.jobs_per_file" -> "count",
    "ingest.max_task_share" -> "ratio")

  val modules: Seq[(String, String)] = QueryWorkload.Modules.map(_._1).flatMap { m =>
    Seq("build_s" -> "s", "exec_s" -> "s", "jobs" -> "count", "stages" -> "count",
      "task_s" -> "s", "max_task_s" -> "s", "shuffle_mb" -> "MB", "gc_s" -> "s")
      .map { case (k, u) => s"$m.$k" -> u }
  }

  val engine: Seq[(String, String)] = Seq(
    "plans.graft_nodes" -> "count", "plans.exec_s" -> "s", "spark.sched_gap" -> "ratio")

  val indexStore: Seq[(String, String)] =
    QueryWorkload.IndexQueries.flatMap { case (_, i) =>
      Seq(s"IndexStore.$i.build_s" -> "s", s"IndexStore.$i.load_s" -> "s")
    } ++ Seq("IndexStore.bytes_written_mb" -> "MB", "IndexStore.indexes_built" -> "count",
      "IndexStore.indexes_loaded" -> "count")

  val perLayer: Seq[(String, String)] =
    ingest ++ modules ++ engine ++ indexStore :+ ("trace.overhead_s" -> "s")
}
