package perfbench

import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.sink.ParquetStore
import graft.streaming.IngestPipeline

/** Count, fallback count and multiset hash of stored or expected events. */
final case class Digest(count: Long, fallback: Long, hash: java.math.BigDecimal)

object Ingest {

  def dirs(root: Path, names: String*): Seq[Path] =
    names.map(n => Files.createDirectories(root.resolve(n)))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Generate `n` requests of `docs` documents and publish them into `in`
    * as req-<k>.ndjson; returns the expected documents and the line count.
    */
  def backlog(gen: BulkGen, n: Int, docs: Int, staging: Path, in: Path): (Seq[Expected], Long) = {
    var lines = 0L
    val exp = (0 until n).flatMap { k =>
      val (body, e) = gen.request(docs)
      lines += BulkGen.lineCount(body)
      gen.publish(staging, in, f"req-$k%06d.ndjson", body)
      e
    }
    (exp, lines)
  }

  private def digestOf(df: DataFrame, ts: org.apache.spark.sql.Column, isFallback: org.apache.spark.sql.Column): Digest = {
    val h = xxhash64(col("raw"), col("message"), ts, col("container"), col("host"))
    val r = df.agg(count(lit(1)), sum(when(isFallback, 1L).otherwise(0L)),
      sum(h.cast("decimal(38,0)"))).head()
    Digest(r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L),
      Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def expectedDigest(spark: SparkSession, exp: Seq[Expected]): Digest = {
    import spark.implicits._
    val df = exp.toDF()
    digestOf(df, coalesce(col("ts"), lit("FALLBACK")), col("ts").isNull)
  }

  /** The store's digest; a stored timestamp inside [fromMs, now] is the
    * ingest-time fallback (generated timestamps all lie in 2025).
    */
  def storeDigest(spark: SparkSession, store: Path, fromMs: Long): Digest = {
    def ntz(ms: Long) = lit(LocalDateTime.ofEpochSecond(ms / 1000, 0, ZoneOffset.UTC))
    val df = spark.read.parquet(store.toString).select(
      col("raw_json").as("raw"), col("message"), col("container"), col("host_name").as("host"),
      col("timestamp"))
    val fb = col("timestamp") >= ntz(fromMs - 2000) && col("timestamp") <= ntz(System.currentTimeMillis() + 2000)
    digestOf(df, when(fb, lit("FALLBACK")).otherwise(date_format(col("timestamp"), "yyyy-MM-dd HH:mm:ss")), fb)
  }

  /** Files in the file-source log entry of `batchId` (`<id>` or `<id>.compact`). */
  def batchFiles(ckpt: Path, batchId: Long): Seq[String] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val f = Seq(dir.resolve(batchId.toString), dir.resolve(s"$batchId.compact")).find(Files.exists(_))
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    f.toSeq.flatMap(p => Files.readAllLines(p).asScala.collect {
      case Entry(path, b) if b.toLong == batchId => path.substring(path.lastIndexOf('/') + 1)
    })
  }

  /** Parquet files, leaf directories and bytes under a store root. */
  def walk(store: Path): (Int, Int, Long) = {
    val s = Files.walk(store)
    val files = try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet") &&
      !p.toString.contains("/_")).toVector finally s.close()
    (files.size, files.map(_.getParent).distinct.size, files.map(Files.size).sum)
  }

  val logQueries: Seq[(String, String)] = Seq(
    "count_min_max" -> "SELECT count(*) AS n, min(timestamp) AS lo, max(timestamp) AS hi FROM logs_table",
    "latest_10" -> "SELECT timestamp, message, container, host_name FROM logs_table ORDER BY timestamp DESC LIMIT 10",
    "day_by_container" -> ("SELECT container, count(*) AS n FROM logs_table WHERE timestamp >= TIMESTAMP_NTZ '2025-12-04 00:00:00' " +
      "AND timestamp < TIMESTAMP_NTZ '2025-12-05 00:00:00' GROUP BY container ORDER BY n DESC, container"),
    "per_host" -> "SELECT host_name, count(*) AS n FROM logs_table GROUP BY host_name ORDER BY host_name")

  /** Run one documented log query against the store; returns whether the
    * answer is possible given `published` events.
    */
  def logQuery(spark: SparkSession, ctx: Ctx, store: Path, name: String, sql: String,
      published: => Long): Boolean = {
    ctx.tracer.span("store.register")(ParquetStore.registerView(spark, store.toString))
    val df = spark.sql(sql)
    ctx.tracer.add("catalyst.analysis_s", Catalyst.analysisS(df))
    val rows = ctx.tracer.span("store.query")(df.collect())
    ctx.tracer.add("store.files_read", scanFiles(df.queryExecution.executedPlan))
    val pub = published
    name match {
      case "count_min_max" =>
        val r = rows.head
        r.getLong(0) <= pub && (r.getLong(0) == 0 ||
          !r.getAs[LocalDateTime](1).isAfter(r.getAs[LocalDateTime](2)))
      case "latest_10" =>
        val ts = rows.map(_.getAs[LocalDateTime](0))
        rows.length <= 10 && ts.zip(ts.drop(1)).forall { case (a, b) => !a.isBefore(b) }
      case _ => rows.map(_.getLong(1)).sum <= pub
    }
  }

  /** "number of files read" summed over the scans of an executed plan. */
  def scanFiles(plan: org.apache.spark.sql.execution.SparkPlan): Double = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    def go(p: SparkPlan): Double = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case s: QueryStageExec => go(s.plan)
      case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
      case o => o.children.map(go).sum
    }
    go(plan)
  }

  def streamingLayers(progress: Seq[StreamingQueryProgress]): Seq[(String, Double)] = {
    def d(k: String) = Stats.median(progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0) / 1000))
    Seq("streaming.batches" -> progress.size.toDouble,
      "streaming.batch_p50_s" -> d("triggerExecution"),
      "streaming.rows_per_batch_p50" -> Stats.median(progress.map(_.numInputRows.toDouble)),
      "streaming.latest_offset_s" -> d("latestOffset"),
      "streaming.planning_s" -> d("queryPlanning"),
      "streaming.add_batch_s" -> d("addBatch"),
      "streaming.wal_commit_s" -> d("walCommit"))
  }

  /** Drain `in` once with an availableNow pipeline into `store`; returns
    * (start ms, termination ms, progress events with the time each was seen).
    */
  def drain(spark: SparkSession, in: Path, store: Path, ckpt: Path): (Double, Double, Seq[(StreamingQueryProgress, Double)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(StreamingQueryProgress, Double)]()
    val l = new ProgressProbe((p, t) => seen.add(p -> t))
    spark.streams.addListener(l)
    try {
      val t0 = System.currentTimeMillis().toDouble
      val q = IngestPipeline.start(spark, IngestPipeline.Config(in.toString, store.toString, ckpt.toString,
        format = IngestPipeline.Bulk, availableNow = true))
      q.awaitTermination()
      val t1 = System.currentTimeMillis().toDouble
      // the listener bus may deliver the last progress just after termination
      val until = System.nanoTime() + 2000000000L
      while (seen.isEmpty && System.nanoTime() < until) Thread.sleep(5)
      (t0, t1, seen.asScala.toVector.filter(_._1.numInputRows > 0))
    } finally spark.streams.removeListener(l)
  }
}

/** ingest_live: first a seeded Filebeat backlog drained again and again
  * by an availableNow IngestPipeline into a fresh ParquetStore (full-rate
  * ingest); then an open-loop generator publishes bulk requests into the
  * input directory of a running IngestPipeline at a fixed rate while one
  * closed-loop client runs the documented log queries on its store.
  */
final class IngestLive(ctx: Ctx, probes: Probes) extends Workload {
  import Ingest._
  import IngestLive._
  private val Seq(in, liveIn, staging) = dirs(ctx.work, "backlog", "live-in", "staging")
  private val liveRequests = math.ceil(ctx.seconds * LiveShare * RateEps / RequestDocs).toInt
  private var expected: Seq[Expected] = Nil
  private var linesIn = 0L
  private var bodies: Vector[(String, Seq[Expected])] = Vector.empty
  private var warmAnalysisS = 0.0
  private var warmFilesRead = 0.0

  override def generate(): Double = {
    val t0 = System.nanoTime()
    val gen = new BulkGen(ctx.seed)
    val r = backlog(gen, BacklogRequests, BulkMaxSize, staging, in)
    expected = r._1
    linesIn = r._2
    bodies = Vector.fill(liveRequests)(gen.request(RequestDocs))
    (System.nanoTime() - t0) / 1e9
  }

  /** One untimed drain of the backlog and one round of log queries on it. */
  def warmUp(spark: SparkSession): Unit = {
    val store = ctx.work.resolve("warm-store")
    val ckpt = ctx.work.resolve("warm-ckpt")
    drain(spark, in, store, ckpt)
    storeDigest(spark, store, 0L)
    logQueries.foreach { case (n, sql) => logQuery(spark, ctx, store, n, sql, Long.MaxValue) }
    warmAnalysisS = ctx.tracer.counter("catalyst.analysis_s")
    warmFilesRead = ctx.tracer.counter("store.files_read")
    deleteTree(store)
    deleteTree(ckpt)
  }

  def measure(spark: SparkSession): Outcome = {
    val b = backlogPhase(spark)
    val l = livePhase(spark)
    val layers = if (!ctx.trace) Nil else {
      Thread.sleep(500) // let the listener bus deliver the last events
      Stats.allLayers(replay(spark, b.wallS) ++ l.layers ++
        streamingLayers(b.progress ++ l.progress) ++
        Stats.engineLayers(probes, b.windows :+ l.window, ctx.cores, ctx.tracer.counter("catalyst.analysis_s") - warmAnalysisS))
    }
    Outcome(Seq(
      "throughput_per_s" -> b.eps,
      "latency_p50_s" -> Stats.median(l.freshness),
      "latency_p90_s" -> Stats.quantile(l.freshness, 0.9)),
      layers, b.attempted + l.attempted, b.failed + l.failed, b.info ++ l.info)
  }

  private final case class BacklogResult(eps: Double, wallS: Double, windows: Seq[(Double, Double)],
      progress: Seq[StreamingQueryProgress], attempted: Long, failed: Long, info: Seq[(String, String)])

  /** Drains until the backlog share of the window is spent, at least three times. */
  private def backlogPhase(spark: SparkSession): BacklogResult = {
    val want = expectedDigest(spark, expected)
    require(want.count == expected.size && want.fallback == expected.count(_.ts.isEmpty))
    val walls = Vector.newBuilder[(Double, Double)]
    val progress = Vector.newBuilder[StreamingQueryProgress]
    var failed = 0
    var i = 0
    val deadline = System.nanoTime() + (ctx.seconds * (1 - LiveShare) * 1e9).toLong
    while (System.nanoTime() < deadline || i < 3) {
      val store = ctx.work.resolve(s"store-$i")
      val ckpt = ctx.work.resolve(s"ckpt-$i")
      System.gc()
      val (t0, t1, seen) = ctx.tracer.span("drain")(drain(spark, in, store, ckpt))
      val ok = try storeDigest(spark, store, t0.toLong) == want
        catch { case e: Throwable => System.err.println(s"[perfbench] store check failed: $e"); false }
      if (!ok) { failed += 1; System.err.println(s"[perfbench] drain $i: stored events differ from the generator's") }
      if (ctx.trace && i == 0) {
        val (files, leaves, bytes) = walk(store)
        ctx.tracer.add("sink.files", files)
        ctx.tracer.add("sink.leaf_dirs", leaves)
        ctx.tracer.add("sink.bytes", bytes.toDouble)
      }
      walls += ((t0, t1))
      progress ++= seen.map(_._1)
      deleteTree(store)
      deleteTree(ckpt)
      i += 1
    }
    val ws = walls.result()
    val secs = ws.map { case (a, b) => (b - a) / 1000 }
    // the fastest drain: interference only ever slows a drain down
    BacklogResult(expected.size / secs.min, Stats.median(secs), ws, progress.result(),
      ws.size, failed, Seq("drains" -> ws.size.toString, "docs_per_drain" -> expected.size.toString,
        "drain_s" -> secs.map(w => f"$w%.3f").mkString(",")))
  }

  private final case class LiveResult(freshness: Seq[Double], window: (Double, Double),
      progress: Seq[StreamingQueryProgress], layers: Seq[(String, Double)], attempted: Long, failed: Long,
      info: Seq[(String, String)])

  private def livePhase(spark: SparkSession): LiveResult = {
    val store = ctx.work.resolve("live-store")
    val ckpt = ctx.work.resolve("live-ckpt")
    val intervalMs = RequestDocs * 1000.0 / RateEps
    val scheduled = new ConcurrentHashMap[String, java.lang.Double]()
    val committed = new ConcurrentHashMap[String, java.lang.Double]()
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val publishedDocs = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new ProgressProbe((p, seenMs) => {
      progress.add(p)
      batchFiles(ckpt, p.batchId).foreach(f => committed.putIfAbsent(f, seenMs))
    })
    spark.streams.addListener(listener)
    val q = IngestPipeline.start(spark, IngestPipeline.Config(liveIn.toString, store.toString, ckpt.toString,
      format = IngestPipeline.Bulk))
    val startMs = System.currentTimeMillis() + 500.0
    val windowEnd = startMs + liveRequests * intervalMs
    val late = Vector.newBuilder[Double]
    val backlogSamples = Vector.newBuilder[(Double, Int)]
    val generator = new Thread(() => {
      val publisher = new BulkGen(0)
      bodies.zipWithIndex.foreach { case ((body, exp), k) =>
        val due = startMs + k * intervalMs
        val name = f"req-$k%06d.ndjson"
        var now = System.currentTimeMillis()
        while (now < due) { Thread.sleep(math.max(1L, (due - now).toLong)); now = System.currentTimeMillis() }
        scheduled.put(name, due)
        publisher.publish(staging, liveIn, name, body)
        publishedDocs.addAndGet(exp.size)
        late += (System.currentTimeMillis() - due) / 1000
        backlogSamples += ((System.currentTimeMillis() - startMs) / 1000 -> (k + 1 - committed.size))
      }
    }, "perfbench-generator")
    generator.start()

    // closed-loop client: the documented log queries, once the store has data
    while (committed.isEmpty && System.currentTimeMillis() < windowEnd) Thread.sleep(10)
    val queryS = Vector.newBuilder[(String, Double)]
    var bad = 0
    var k = 0
    val clientStart = ctx.tracer.nowMs
    while (System.currentTimeMillis() < windowEnd) {
      val (name, sql) = logQueries(k % logQueries.size)
      val t0 = System.nanoTime()
      val ok = try logQuery(spark, ctx, store, name, sql, publishedDocs.get)
        catch { case e: Throwable => System.err.println(s"[perfbench] $name failed: $e"); false }
      queryS += name -> (System.nanoTime() - t0) / 1e9
      if (!ok) { bad += 1; System.err.println(s"[perfbench] $name returned an impossible answer") }
      k += 1
    }
    generator.join()
    val drainUntil = System.currentTimeMillis() + 60000
    while (committed.size < liveRequests && System.currentTimeMillis() < drainUntil) Thread.sleep(20)
    val drainedS = (System.currentTimeMillis() - windowEnd) / 1000
    q.stop()
    spark.streams.removeListener(listener)

    val all = bodies.flatMap(_._2)
    val stored = try Some(storeDigest(spark, store, startMs.toLong)) catch { case e: Throwable =>
      System.err.println(s"[perfbench] store check failed: $e"); None }
    val storeOk = committed.size == liveRequests && stored.contains(expectedDigest(spark, all))
    if (!storeOk) System.err.println("[perfbench] stored events differ from the published ones")
    // the backlog grew when the last quarter of the window queued more
    // than twice the second quarter, plus two requests
    val bl = backlogSamples.result()
    val windowS = liveRequests * intervalMs / 1000
    def quarter(i: Int) = Stats.median(bl.collect {
      case (t, n) if t >= windowS * i / 4 && t < windowS * (i + 1) / 4 => n.toDouble })
    val grew = quarter(3) > 2 * quarter(1) + 2
    if (grew) System.err.println(s"[perfbench] backlog grew: ${quarter(1)} -> ${quarter(3)} requests")
    val fresh = scheduled.asScala.toSeq.flatMap { case (f, due) =>
      Option(committed.get(f)).map(seen => (seen - due) / 1000) }
    val qs = queryS.result()
    val lateS = late.result()
    val layers = if (!ctx.trace) Nil else {
      val reg = ctx.tracer.all("store.register").filter(_.startMs >= clientStart).map(_.seconds)
      val qry = ctx.tracer.all("store.query").filter(_.startMs >= clientStart).map(_.seconds)
      Seq("gen.late_p90_s" -> Stats.quantile(lateS, 0.9),
        "streaming.backlog_files_max" -> bl.map(_._2.toDouble).maxOption.getOrElse(0.0),
        "store.register_s" -> Stats.median(reg),
        "store.query_s" -> Stats.median(qry),
        "store.files_read_per_query" -> (ctx.tracer.counter("store.files_read") - warmFilesRead) / math.max(1, qs.size))
    }
    val byQuery = qs.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, xs) =>
      f"$n=${Stats.median(xs.map(_._2))}%.3f/${Stats.quantile(xs.map(_._2), 0.9)}%.3f" }
    LiveResult(fresh, (startMs, windowEnd), progress.asScala.toVector.filter(_.numInputRows > 0), layers,
      qs.size + liveRequests + 1L, bad + (if (storeOk) 0 else liveRequests) + (if (grew) 1 else 0),
      Seq("rate_eps" -> RateEps.toString, "requests" -> liveRequests.toString,
        "freshness_p50_p90_s" -> f"${Stats.median(fresh)}%.3f/${Stats.quantile(fresh, 0.9)}%.3f",
        "queries" -> qs.size.toString, "query_p50_p90_s" -> byQuery.mkString(" "),
        "log_query_p50_p90_s" -> f"${Stats.median(qs.map(_._2))}%.3f/${Stats.quantile(qs.map(_._2), 0.9)}%.3f",
        "gen_late_p90_s" -> f"${Stats.quantile(lateS, 0.9)}%.4f",
        "backlog_max" -> bl.map(_._2).maxOption.getOrElse(0).toString,
        "backlog_grew" -> grew.toString, "drain_after_window_s" -> f"$drainedS%.3f"))
  }

  /** Prefix-difference batch replay of the backlog files: scan, then
    * +decode, then +normalize, then +store; each step's increment is its
    * layer's time. Streaming overhead is the drain wall minus the full
    * batch-equivalent wall.
    */
  private def replay(spark: SparkSession, drainS: Double): Seq[(String, Double)] = {
    def lines = spark.read.text(in.toString)
    def normalized = IngestPipeline.runBatch(lines, IngestPipeline.Bulk)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    var k = 0
    val steps: Seq[(String, () => Unit)] = Seq(
      "scan" -> (() => noop(lines)),
      "decode" -> (() => noop(IngestPipeline.decode(lines, IngestPipeline.Bulk))),
      "normalize" -> (() => noop(normalized)),
      "store" -> (() => {
        val p = ctx.work.resolve(s"replay-$k")
        k += 1
        ParquetStore.appendBatch(normalized, p.toString, 0L)
        deleteTree(p)
      }))
    val cum = steps.map { case (name, f) =>
      name -> Stats.median((1 to 3).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        ctx.tracer.span(s"replay.$name")(f())
        (System.nanoTime() - t0) / 1e9
      })
    }.toMap
    val docsOut = IngestPipeline.decode(lines, IngestPipeline.Bulk).count().toDouble
    Seq(
      "ingest.scan_s" -> cum("scan"),
      "ingest.decode_s" -> (cum("decode") - cum("scan")),
      "ingest.normalize_s" -> (cum("normalize") - cum("decode")),
      "sink.store_s" -> (cum("store") - cum("normalize")),
      "streaming.overhead_s" -> (drainS - cum("store")),
      "ingest.lines_in" -> linesIn.toDouble,
      "ingest.docs_out" -> docsOut,
      "ingest.yield" -> docsOut / linesIn,
      "ingest.ts_fallback" -> expected.count(_.ts.isEmpty).toDouble,
      "sink.files" -> ctx.tracer.counter("sink.files"),
      "sink.leaf_dirs" -> ctx.tracer.counter("sink.leaf_dirs"),
      "sink.bytes_per_event" -> ctx.tracer.counter("sink.bytes") / expected.size)
  }
}

/** Request sizes follow Filebeat 8.11, the agent version the generator
  * stamps, at its documented defaults: `output.elasticsearch.bulk_max_size`
  * 1600 and the memory queue's `flush.min_events` 2048 and `flush.timeout`
  * 1s (elastic.co/guide/en/beats/filebeat/8.11/elasticsearch-output.html,
  * .../8.11/configuring-internal-queue.html). An agent catching up on a
  * backlog sends full 1600-event requests; an agent logging below 2048
  * events/s flushes its queue once a second, so its requests carry one
  * second of its events.
  */
object IngestLive {
  val BulkMaxSize = 1600
  val FlushTimeoutS = 1.0
  /** The backlog: 50 full requests, 80,000 documents. */
  val BacklogRequests = 50
  /** The live phase: 20 agents logging 50 events/s each, their flushes
    * spread evenly over the second.
    */
  val Agents = 20
  val AgentEps = 50.0
  val RateEps: Double = Agents * AgentEps
  val RequestDocs: Int = (AgentEps * FlushTimeoutS).toInt
  /** The share of the measured window given to the live phase. */
  val LiveShare = 0.67
}
