package perfbench

import java.nio.file.{Files, Paths}

import graft.streaming.IngestPipeline

/** Loads the classes a benchmark run needs, so `build.py` can dump them
  * into a class-data-sharing archive that shortens every run's JVM and
  * session start: a session, a shuffle, parquet out and in, and the
  * ingest decode and normalize.
  *
  *     java -XX:ArchiveClassesAtExit=<archive> -cp <classpath> perfbench.Train <tmp dir>
  */
object Train {
  def main(args: Array[String]): Unit = {
    val work = Files.createDirectories(Paths.get(args(0)))
    val ctx = Ctx("train", 0L, 0.0, trace = false, work, Runtime.getRuntime.availableProcessors(),
      new Tracer("train"))
    val spark = Main.session(ctx, new Probes)
    import spark.implicits._
    val p = work.resolve("t.parquet").toString
    spark.range(10000).selectExpr("id % 7 AS k", "id").groupBy("k").count()
      .write.mode("overwrite").parquet(p)
    spark.read.parquet(p).collect()
    val (body, _) = new BulkGen(1).request(50)
    IngestPipeline.runBatch(body.split("\n").toSeq.toDF("value"), IngestPipeline.Bulk)
      .write.format("noop").mode("overwrite").save()
    Main.stop(spark)
    Ingest.deleteTree(work)
    System.exit(0)
  }
}
