package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The face workloads: registered queries built through
  * `SparkEntry.queries(name)(spark, dir)` and forced through the noop
  * sink. A check pass first writes every face's output as parquet for
  * the DuckDB oracle and warms the plans; the timed passes follow. A
  * face that throws in the check pass is a failure and is never timed.
  */
object Faces {

  /** Small-plan faces: the ROADMAP's two sketch-plus-exact relational
    * faces, the flagship star join, and one face of each other family.
    */
  val sqlFaces: Seq[String] = Seq("q16b_approx_pct", "q4_star_join", "events_asof_exec",
    "logs_latest", "logs_count_minmax", "ingest_bulk_normalize")

  /** Keep-warm chains, each anchor first, in contract order. */
  val chainHeads: Seq[String] = Seq("x_f2_by_key")

  def chains: Seq[String] = {
    val ordered = SparkEntry.orderedQueryNames
    chainHeads.flatMap { head =>
      val i = ordered.indexOf(head)
      require(i >= 0, s"$head is not a registered face")
      head +: ordered.drop(i + 1).takeWhile(SparkEntry.keepWarmQueries)
    }
  }

  /** The per-layer group of a face: `sql.<family>` or `corpus.<anchor>`. */
  def group(name: String): String =
    if (name.startsWith("q")) "sql.relational"
    else if (sqlFaces.contains(name)) "sql." + name.takeWhile(_ != '_')
    else "corpus." + chains.takeWhile(_ != name).:+(name).filter(chainHeads.contains).last

  final case class Sample(name: String, group: String, buildS: Double, runS: Double,
      startMs: Double, endMs: Double) {
    def seconds: Double = buildS + runS
  }

  final case class Result(samples: Seq[Sample], passes: Seq[(Double, Double)],
      failed: Set[String], attempted: Int)
}

/** One run of the face workloads on `dataDir`: [[check]] once, as the
  * warm-up, then [[timed]].
  */
final class FaceRun(spark: SparkSession, ctx: Ctx, dataDir: String) {
  import Faces._
  private val rng = new scala.util.Random(ctx.seed)
  private val faces = sqlFaces ++ chains
  private val groups = faces.map(n => n -> group(n)).toMap
  private val failed = scala.collection.mutable.LinkedHashSet.empty[String]

  // sql faces in a seeded order, then the chains in contract order
  private def order(): Seq[String] = rng.shuffle(sqlFaces) ++ chains

  // clear the cache before each sql face; the whole flush (cached
  // frames, memoized chain frames, a GC) before each chain anchor
  private def flush(name: String): Unit = {
    if (chainHeads.contains(name)) {
      graft.ext.Dedup.releaseCaches()
      spark.catalog.clearCache()
      System.gc()
    } else if (!SparkEntry.keepWarmQueries(name)) spark.catalog.clearCache()
  }

  private def one(name: String, out: Option[Path]): Sample = {
    val t0 = ctx.tracer.nowMs
    val df = ctx.tracer.span("face.build")(SparkEntry.queries(name)(spark, dataDir))
    val t1 = ctx.tracer.nowMs
    // the build analyses the face's plan eagerly, outside any action
    if (out.isEmpty) ctx.tracer.add("catalyst.analysis_s", Catalyst.analysisS(df))
    ctx.tracer.span("face.run") {
      out match {
        case None => df.write.format("noop").mode("overwrite").save()
        case Some(p) => df.coalesce(1).write.mode("overwrite").parquet(p.toString)
      }
    }
    val t2 = ctx.tracer.nowMs
    Sample(name, groups(name), (t1 - t0) / 1000, (t2 - t1) / 1000, t0, t2)
  }

  /** Writes every face's output and the oracle SQL into `outDir`, and
    * warms the plans and the JIT.
    */
  def check(outDir: Path): Unit = {
    order().foreach { name =>
      flush(name)
      try one(name, Some(outDir.resolve(name)))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        failed += name
      }
    }
    writeOracle(outDir, faces.filterNot(failed))
  }

  /** Whole passes over the faces that passed [[check]] until the window
    * is spent, at least three.
    */
  def timed(): Result = {
    val ok = faces.filterNot(failed)
    val samples = Vector.newBuilder[Sample]
    val passes = Vector.newBuilder[(Double, Double)]
    var attempted = faces.size
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < deadline || n < 3) {
      n += 1
      val p0 = ctx.tracer.nowMs
      order().filter(ok.contains).foreach { name =>
        flush(name)
        attempted += 1
        try samples += ctx.tracer.span(s"face:$name")(one(name, None))
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed in a timed pass: $e")
          failed += name
        }
      }
      passes += ((p0, ctx.tracer.nowMs))
    }
    graft.ext.Dedup.releaseCaches()
    spark.catalog.clearCache()
    Result(samples.result(), passes.result(), failed.toSet, attempted)
  }

  private def writeOracle(outDir: Path, faces: Seq[String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sql = SparkEntry.oracleSql
    val json = faces.map(n => s"${q(n)}: ${q(sql(n))}").mkString("{", ",\n", "}")
    Files.writeString(outDir.resolve("oracle_sql.json"), json)
  }
}
