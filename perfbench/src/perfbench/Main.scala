package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one run knows: its arguments, its working directory and its tracer. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, cores: Int, tracer: Tracer)

/** The benchmark JVM. `perfbench/run.py` builds it and launches it with
  * `--workload --seed --seconds --trace --work [--data --gen-s]`;
  * it writes `result.json` (and `trace.jsonl` when tracing) into the work
  * directory.
  */
object Main {

  /** The session every workload runs on: local[nproc], shuffle
    * partitions = nproc, AQE on, the engine's extensions, UTC.
    */
  def session(ctx: Ctx, probes: Probes): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (ctx.trace) {
      spark.sparkContext.addSparkListener(probes.scheduler)
      spark.listenerManager.register(probes.catalyst)
    }
    spark
  }

  def stop(spark: SparkSession): Unit = {
    graft.ext.Dedup.releaseCaches()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    "VmHWM:\\s+(\\d+)\\s+kB".r.findFirstMatchIn(status).map(_.group(1).toDouble / 1024).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1", work,
      Runtime.getRuntime.availableProcessors(), new Tracer(s"${a("workload")}-${a("seed")}"))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val probes = new Probes
    val workload: Workload = ctx.workload match {
      case "ingest_live" => new IngestLive(ctx, probes)
      case "faces_mix" => new FaceMix(ctx, probes, a("data"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    println(s"[perfbench] env cores=${ctx.cores} master=local[${ctx.cores}] shuffle.partitions=${ctx.cores} " +
      s"aqe=true extensions=graft.plans.GraftExtensions tz=UTC heap_max_mb=${Runtime.getRuntime.maxMemory >> 20} " +
      s"java=${System.getProperty("java.version")} spark=${org.apache.spark.SPARK_VERSION}")

    // set-up, as a user waits for it: the inputs, one session start and
    // the workload's warm-up, from JVM start to the first timed operation
    val preJvmGenS = a.get("gen-s").map(_.toDouble).getOrElse(0.0)
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val genS = preJvmGenS + workload.generate()
    val s0 = System.nanoTime()
    val spark = session(ctx, probes)
    spark.range(1).collect()
    val sessionS = (System.nanoTime() - s0) / 1e9
    val w0 = System.nanoTime()
    workload.warmUp(spark)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = preJvmGenS + (System.currentTimeMillis() - jvmStartMs) / 1000.0
    println(f"[perfbench] setup_s=$setupS%.3f boot=$bootS%.3f gen=$genS%.3f " +
      f"session_start=$sessionS%.3f warm_up=$warmS%.3f")

    val out = workload.measure(spark)
    println(f"[perfbench] peak_rss_mb=${peakRssMb()}%.1f")
    val metrics =
      if (ctx.trace) out.layers.map { case (k, v) => if (k == "jvm.peak_rss_mb") k -> peakRssMb() else k -> v }
      else Seq("setup_s" -> setupS) ++ out.endToEnd
    out.info.foreach { case (k, v) => println(s"[perfbench] $k=$v") }
    // a traced run's end-to-end values, for the tracing overhead
    if (ctx.trace) (("setup_s" -> setupS) +: out.endToEnd).foreach { case (k, v) =>
      println(s"[perfbench] traced_$k=${Stats.num(v)}") }
    stop(spark)
    if (ctx.trace) ctx.tracer.write(work.resolve("trace.jsonl"))
    val units = Stats.units
    val m = metrics.map { case (k, v) => s""""$k": {"value": ${Stats.num(v)}, "unit": "${units(k)}"}""" }
    Files.writeString(work.resolve("result.json"),
      s"""{"attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": {${m.mkString(", ")}}}""" + "\n")
    System.exit(0)
  }
}

/** The listeners a traced run registers. */
final class Probes {
  val scheduler = new SchedulerProbe
  val catalyst = new CatalystProbe
}

/** What a workload reports: end-to-end metrics (untraced), per-layer
  * metrics (traced), operations attempted and failed, and log lines.
  */
final case class Outcome(endToEnd: Seq[(String, Double)], layers: Seq[(String, Double)],
    attempted: Long, failed: Long, info: Seq[(String, String)])

trait Workload {
  /** Inputs the workload makes in the JVM; returns seconds spent. */
  def generate(): Double = 0.0
  def warmUp(spark: SparkSession): Unit
  def measure(spark: SparkSession): Outcome
}
