package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** One stored document as the engine must keep it: the raw line, the
  * decoded message, the second-truncated UTC timestamp (None when the
  * document falls back to ingest time), the container and the host.
  */
final case class Expected(raw: String, message: String, ts: Option[String],
    container: String, host: String)

/** Seeded Filebeat Elasticsearch-bulk NDJSON generator.
  *
  * Line shapes follow the reference wire format: action lines before
  * most documents, naked documents, blank lines, garbage lines and
  * `{"delete":null}`; `@timestamp` in the five accepted layouts plus
  * unparseable and missing values; container (name or id only), host,
  * docker, agent and log sub-objects. Each request is written to a
  * staging directory and renamed into the input directory, so a file
  * source never reads a partial file.
  */
final class BulkGen(seed: Long) {
  private val rng = new java.util.SplittableRandom(seed)
  private val words = Vector("GET", "POST", "/api/v1/items", "200", "404", "500", "user",
    "login", "timeout", "retry", "cache", "miss", "hit", "upstream", "latency", "ms",
    "worker", "queue", "flush", "disk", "ok", "error", "warn", "café", "日志")
  private val hosts = Vector.tabulate(12)(i => f"node-$i%02d")
  private val apps = Vector("api", "web", "auth", "billing", "search", "worker", "cron")
  private val secFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  // 2025-10-01 .. 2025-12-31 UTC: three month partitions in the store
  private val tsLo = Instant.parse("2025-10-01T00:00:00Z").getEpochSecond
  private val tsSpan = 92L * 86400

  private def pick[T](xs: Vector[T]): T = xs(rng.nextInt(xs.size))

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""

  private def message(): String = {
    val n = 4 + rng.nextInt(12)
    val ws = Seq.fill(n)(pick(words))
    val body = ws.mkString(" ") + s" id=${rng.nextInt(1000000)}"
    if (rng.nextInt(10) == 0) body + " path=\"C:\\tmp\"" else body
  }

  /** (raw `@timestamp` JSON member or "", expected UTC second). */
  private def timestamp(): (String, Option[String]) = {
    val sec = tsLo + rng.nextLong(tsSpan)
    val t = Instant.ofEpochSecond(sec)
    val utc = t.atOffset(ZoneOffset.UTC).toLocalDateTime
    val exp = Some(secFmt.format(t))
    rng.nextInt(20) match {
      case 0 | 1 | 2 | 3 | 4 | 5 => (s""""@timestamp":"${isoFmt.format(utc)}Z",""", exp)
      case 6 | 7 =>
        val off = Seq(-5, 2, 8)(rng.nextInt(3))
        val local = t.atOffset(ZoneOffset.ofHours(off))
        (s""""@timestamp":"${isoFmt.format(local.toLocalDateTime)}${local.getOffset.getId}",""", exp)
      case 8 | 9 | 10 =>
        (s""""@timestamp":"${isoFmt.format(utc)}.${"%09d".format(rng.nextInt(1000000000))}Z",""", exp)
      case 11 | 12 | 13 =>
        (s""""@timestamp":"${isoFmt.format(utc)}.${"%03d".format(rng.nextInt(1000))}Z",""", exp)
      case 14 | 15 | 16 => (s""""@timestamp":"${secFmt.format(t)}",""", exp)
      case 17 => (s""""@timestamp":"${pick(Vector("not-a-time", "yesterday", "2025-13-45"))}",""", None)
      case _ => ("", None)
    }
  }

  private def document(): (String, Expected) = {
    val (tsMember, expTs) = timestamp()
    val msg = message()
    val host = pick(hosts)
    val app = pick(apps)
    val cid = java.lang.Long.toHexString(rng.nextLong() & 0xffffffffffffL)
    val (containerJson, container) = rng.nextInt(10) match {
      case 0 => ("", "")
      case 1 => (s""","container":{"id":"$cid"}""", cid)
      case _ => (s""","container":{"name":"$app","id":"$cid"}""", app)
    }
    val hostJson = if (rng.nextInt(10) == 0) "" else s""","host":{"name":"$host"}"""
    val docker = if (rng.nextInt(2) == 0) "" else s""","docker":{"container":{"id":"$cid","name":"$app"}}"""
    val agent = ""","agent":{"name":"filebeat","version":"8.11.0","type":"filebeat"}"""
    val log = s""","log":{"offset":${rng.nextInt(1 << 30)},"file":{"path":"/var/lib/docker/containers/$cid/$cid-json.log"}}"""
    val extra = if (rng.nextInt(8) == 0) ""","fields":{"env":"prod"},"tags":["beats"]""" else ""
    val raw = s"""{$tsMember"message":${jsonStr(msg)}$containerJson$hostJson$docker$agent$log$extra}"""
    (raw, Expected(raw, msg, expTs, container, if (hostJson.isEmpty) "" else host))
  }

  /** One bulk request body of `docs` documents plus framing noise. */
  def request(docs: Int): (String, Seq[Expected]) = {
    val sb = new StringBuilder
    val exp = Vector.newBuilder[Expected]
    for (_ <- 0 until docs) {
      rng.nextInt(40) match {
        case 0 => sb.append("\n")                                  // blank line
        case 1 => sb.append("not json at all\n")                   // garbage
        case 2 => sb.append("{\"delete\":null}\n")                 // null-verb action
        case _ =>
      }
      rng.nextInt(10) match {
        case 0 => // naked document
        case 1 => sb.append("{\"create\":{}}\n")
        case _ => sb.append("{\"index\":{\"_index\":\"filebeat-2025.12.04\"}}\n")
      }
      val (raw, e) = document()
      sb.append(raw).append('\n')
      exp += e
    }
    (sb.toString, exp.result())
  }

  /** Stage then rename `body` into `dir` as `name`; returns the final path. */
  def publish(stagingDir: Path, dir: Path, name: String, body: String): Path = {
    val staged = stagingDir.resolve(name)
    Files.write(staged, body.getBytes(UTF_8))
    Files.move(staged, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}

object BulkGen {
  /** Lines in a request body, documents and framing alike. */
  def lineCount(body: String): Long = body.count(_ == '\n').toLong
}
