package perfbench

import org.apache.spark.sql.SparkSession

/** faces_mix: see [[Faces]]. Tables come from `perfbench/tablegen.py`;
  * the oracle comparison runs after the JVM exits.
  */
final class FaceMix(ctx: Ctx, probes: Probes, dataDir: String)
    extends Workload {

  private var faces: FaceRun = _

  /** The check pass is the warm-up: it runs every timed face once on the
    * same tables and writes the outputs the oracle compares.
    */
  def warmUp(spark: SparkSession): Unit = {
    val out = java.nio.file.Files.createDirectories(ctx.work.resolve("out"))
    faces = new FaceRun(spark, ctx, dataDir)
    faces.check(out)
  }

  def measure(spark: SparkSession): Outcome = {
    val r = faces.timed()
    // a face's steady time is its fastest timed run, and a pass's the
    // fastest pass: interference only ever slows a run down
    val steady = r.samples.groupBy(_.name).values.map(_.map(_.seconds).min).toSeq
    val passS = r.passes.map { case (a, b) => (b - a) / 1000 }
    val endToEnd = Seq(
      "throughput_per_s" -> steady.size / passS.min,
      "latency_p50_s" -> Stats.median(steady),
      "latency_p90_s" -> Stats.quantile(steady, 0.9))
    val layers =
      if (!ctx.trace) Nil
      else {
        Thread.sleep(500) // let the listener bus deliver the last events
        val n = r.passes.size.toDouble
        val groupMetrics = r.samples.groupBy(_.group).toSeq.map { case (g, ss) => s"${g}_s" -> ss.map(_.seconds).sum / n }
        val stagesPerFace = r.samples.map(s =>
          probes.scheduler.countIn(probes.scheduler.stageEnds, s.startMs, s.endMs).toDouble)
        Stats.allLayers(Seq(
          "face.build_s" -> r.samples.map(_.buildS).sum / n,
          "face.run_s" -> r.samples.map(_.runS).sum / n,
          "spark.stages_per_face_p50" -> Stats.median(stagesPerFace)) ++ groupMetrics ++
          Stats.engineLayers(probes, r.passes, ctx.cores, ctx.tracer.counter("catalyst.analysis_s")))
      }
    val perFace = r.samples.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, ss) => s"$n=" + ss.map(x => f"${x.seconds}%.3f").mkString("/") }.mkString(" ")
    Outcome(endToEnd, layers, r.attempted, r.failed.size,
      Seq("passes" -> r.passes.size.toString,
        "samples" -> r.samples.size.toString, "failed_faces" -> r.failed.mkString(","),
        "face_s" -> perFace, "pass_s" -> passS.map(p => f"$p%.3f").mkString("/")))
  }
}
