package perfbench

/** The per-layer metric names every traced run prints. A layer a
  * workload does not exercise reads 0. */
object Layers {
  val queries = Seq("q203", "q192", "q191", "q212", "q45")

  val all: Seq[(String, String)] =
    Seq("run.session_start_s" -> "s", "sources.scan_s" -> "s",
      "sources.json_read_amplification" -> "ratio", "pipeline.clean_s" -> "s",
      "pipeline.land_s" -> "s", "pipeline.tasks_s" -> "s") ++
    PinBatch.tasks.map(t => s"pipeline.task.${t}_s" -> "s") ++
    Seq("streaming.batches" -> "count") ++
    Seq("latest_offset", "get_batch", "query_planning", "add_batch", "wal_commit",
      "commit", "trigger").map(d => s"streaming.${d}_ms" -> "ms") ++
    Seq("streaming.queue_wait_ms_p50" -> "ms", "streaming.rows_per_batch_p50" -> "rows",
      "streaming.backlog_files_max" -> "files", "gen.late_ms_max" -> "ms") ++
    queries.flatMap(q => Seq(s"queries.$q.build_s" -> "s", s"queries.$q.write_s" -> "s",
      s"queries.$q.jobs_build" -> "count", s"queries.$q.jobs_write" -> "count")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_bytes" -> "bytes", "spark.task_wait_s" -> "s",
      "trace.overhead_ms" -> "ms")

  /** Engine totals per operation: the median over the traced operations,
    * each divided by the operations it covers. */
  def spark(r: Report, per: Seq[Totals], perOp: Double = 1.0): Unit = if (per.nonEmpty) {
    def med(f: Totals => Double) = Stats.median(per.map(f)) / perOp
    r.layer("spark.jobs") = (med(_.jobs.toDouble), "count")
    r.layer("spark.stages") = (med(_.stages.toDouble), "count")
    r.layer("spark.tasks") = (med(_.tasks.toDouble), "count")
    r.layer("spark.executor_run_s") = (med(_.runMs / 1000.0), "s")
    r.layer("spark.executor_cpu_s") = (med(_.cpuNs / 1e9), "s")
    r.layer("spark.gc_s") = (med(_.gcMs / 1000.0), "s")
    r.layer("spark.shuffle_bytes") = (med(_.shuffleBytes.toDouble), "bytes")
    r.layer("spark.task_wait_s") = (med(_.waitMs / 1000.0), "s")
  }

  /** Median traced minus median untraced operation latency, in ms. */
  def overhead(r: Report, lat: Seq[(Double, Boolean)]): Unit = {
    val (t, u) = lat.partition(_._2)
    if (t.nonEmpty && u.nonEmpty)
      r.layer("trace.overhead_ms") = (Stats.median(t.map(_._1)) - Stats.median(u.map(_._1)), "ms")
  }

  /** Fill every layer the workload did not measure with 0. */
  def complete(r: Report): Unit = for ((k, u) <- all if !r.layer.contains(k)) r.layer(k) = (0.0, u)
}
