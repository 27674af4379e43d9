package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval on the benchmark's own clock (epoch ms). */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double, parent: Int, run: String) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Spans and counters recorded around the calls into each layer. Kept in
  * memory and written as JSON lines when a traced run ends.
  */
final class Tracer(runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def nowMs: Double = System.nanoTime() / 1e6 - Tracer.originNs / 1e6 + Tracer.originMs

  def span[T](name: String)(body: => T): T = {
    val id = Tracer.ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(-1)
    stack.set(id :: stack.get)
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      stack.set(stack.get.tail)
      spans.synchronized(spans += Span(id, name, t0, t1, parent, runId))
    }
  }

  def all(name: String): Seq[Span] = spans.synchronized(spans.filter(_.name == name).toVector)

  def add(name: String, v: Double): Unit = counters.synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }

  def counter(name: String): Double = counters.synchronized(counters.getOrElse(name, 0.0))

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.synchronized(spans.sortBy(_.startMs).foreach { s =>
      sb.append(s"""{"span":"${s.name}","id":${s.id},"parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},"run":"${s.run}"}""").append('\n')
    })
    counters.synchronized(counters.foreach { case (k, v) =>
      sb.append(s"""{"counter":"$k","value":$v,"run":"$runId"}""").append('\n')
    })
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Scheduler and executor counters from Spark's public listener API. */
final class SchedulerProbe extends SparkListener {
  final case class Task(launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      inputBytes: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)
  val tasks = ArrayBuffer.empty[Task]
  val stageEnds = ArrayBuffer.empty[Long]
  val jobEnds = ArrayBuffer.empty[Long]
  private val cached = scala.collection.mutable.HashMap.empty[String, Long]
  @volatile var cachedPeak = 0L

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(jobEnds += e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageEnds += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = info.memSize + info.diskSize
      if (size > 0) cached(info.blockId.name) = size else cached.remove(info.blockId.name)
      cachedPeak = math.max(cachedPeak, cached.values.sum)
    }
  }

  /** Tasks that finished inside [lo, hi] (epoch ms). */
  def tasksIn(lo: Double, hi: Double): Seq[Task] =
    synchronized(tasks.filter(t => t.finishMs >= lo && t.finishMs <= hi).toVector)

  def countIn(xs: ArrayBuffer[Long], lo: Double, hi: Double): Int =
    synchronized(xs.count(t => t >= lo && t <= hi))

  /** Milliseconds of [lo, hi] during which no task was running. */
  def idleMs(lo: Double, hi: Double): Double = {
    val iv = synchronized(tasks.map(t => (math.max(t.launchMs.toDouble, lo), math.min(t.finishMs.toDouble, hi))))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { busy += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) busy += curB - curA
    (hi - lo) - busy
  }
}

/** Analysis runs eagerly when a DataFrame is built, so its time is read
  * from the built frame's own tracker; actions report the rest.
  */
object Catalyst {
  def analysisS(df: org.apache.spark.sql.DataFrame): Double =
    df.queryExecution.tracker.phases.get("analysis").map(_.durationMs / 1000.0).getOrElse(0.0)
}

/** Catalyst phase times (analysis, optimization, planning) per action. */
final class CatalystProbe extends QueryExecutionListener {
  final case class Phases(endMs: Long, analysis: Double, optimization: Double, planning: Double)
  val phases = ArrayBuffer.empty[Phases]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    synchronized(phases += Phases(System.currentTimeMillis(), ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def in(lo: Double, hi: Double): Seq[Phases] =
    synchronized(phases.filter(p => p.endMs >= lo && p.endMs <= hi).toVector)
}

/** Per-micro-batch progress, stamped with the time the listener saw it. */
final class ProgressProbe(onProgress: (org.apache.spark.sql.streaming.StreamingQueryProgress, Double) => Unit)
    extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    onProgress(e.progress, System.currentTimeMillis().toDouble)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
