package perfbench

/** Quantiles, number formatting and the unit of every metric. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s",
    "latency_p50_s" -> "s", "latency_p90_s" -> "s")

  val layers: Seq[(String, String)] = Seq(
    "ingest.scan_s" -> "s", "ingest.decode_s" -> "s", "ingest.normalize_s" -> "s",
    "ingest.lines_in" -> "count", "ingest.docs_out" -> "count", "ingest.yield" -> "fraction",
    "ingest.ts_fallback" -> "count",
    "sink.store_s" -> "s", "sink.files" -> "count", "sink.leaf_dirs" -> "count",
    "sink.bytes_per_event" -> "B",
    "streaming.overhead_s" -> "s", "streaming.batches" -> "count", "streaming.batch_p50_s" -> "s",
    "streaming.rows_per_batch_p50" -> "count", "streaming.latest_offset_s" -> "s",
    "streaming.planning_s" -> "s", "streaming.add_batch_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.backlog_files_max" -> "count", "gen.late_p90_s" -> "s",
    "store.register_s" -> "s", "store.query_s" -> "s", "store.files_read_per_query" -> "count",
    "face.build_s" -> "s", "face.run_s" -> "s") ++
    Faces.chainHeads.map(h => s"corpus.${h}_s" -> "s") ++
    Seq("relational", "events", "logs", "ingest").map(g => s"sql.${g}_s" -> "s") ++ Seq(
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.stages_per_face_p50" -> "count", "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.core_busy_frac" -> "fraction", "spark.no_task_s" -> "s", "spark.input_bytes" -> "B",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.gc_s" -> "s", "spark.cached_bytes_peak" -> "B", "jvm.peak_rss_mb" -> "MB")

  val units: Map[String, String] = (endToEnd ++ layers).toMap

  /** Every per-layer metric, zero where the workload does not run the layer. */
  def allLayers(measured: Seq[(String, Double)]): Seq[(String, Double)] = {
    val m = measured.toMap
    require(m.keySet.subsetOf(units.keySet), s"unknown metrics ${m.keySet -- units.keySet}")
    layers.map { case (k, _) => k -> m.getOrElse(k, 0.0) }
  }

  /** Scheduler, executor and Catalyst totals over `windows`, per window. */
  def engineLayers(p: Probes, windows: Seq[(Double, Double)], cores: Int,
      builtAnalysisS: Double): Seq[(String, Double)] = {
    val n = math.max(windows.size, 1).toDouble
    val tasks = windows.flatMap { case (lo, hi) => p.scheduler.tasksIn(lo, hi) }
    val phases = windows.flatMap { case (lo, hi) => p.catalyst.in(lo, hi) }
    val wallMs = windows.map { case (lo, hi) => hi - lo }.sum
    val runMs = tasks.map(_.runMs.toDouble).sum
    Seq(
      "catalyst.analysis_s" -> (phases.map(_.analysis).sum / 1000 + builtAnalysisS) / n,
      "catalyst.optimization_s" -> phases.map(_.optimization).sum / 1000 / n,
      "catalyst.planning_s" -> phases.map(_.planning).sum / 1000 / n,
      "spark.jobs" -> windows.map { case (lo, hi) => p.scheduler.countIn(p.scheduler.jobEnds, lo, hi) }.sum / n,
      "spark.stages" -> windows.map { case (lo, hi) => p.scheduler.countIn(p.scheduler.stageEnds, lo, hi) }.sum / n,
      "spark.tasks" -> tasks.size / n,
      "spark.task_run_s" -> runMs / 1000 / n,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs.toDouble).sum / 1e9 / n,
      "spark.core_busy_frac" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
      "spark.no_task_s" -> windows.map { case (lo, hi) => p.scheduler.idleMs(lo, hi) }.sum / 1000 / n,
      "spark.input_bytes" -> tasks.map(_.inputBytes.toDouble).sum / n,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite.toDouble).sum / n,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead.toDouble).sum / n,
      "spark.spill_bytes" -> tasks.map(_.spill.toDouble).sum / n,
      "spark.gc_s" -> tasks.map(_.gcMs.toDouble).sum / 1000 / n,
      "spark.cached_bytes_peak" -> p.scheduler.cachedPeak.toDouble)
  }
}
