package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

/** Seeded raw-log backlog in the reference's wire shapes, written
  * without any code of the program so that a change to the program
  * cannot change the workload:
  *
  *  - `ec2/`: Apache combined access lines and Apache error_log lines;
  *  - `ecs/`: FireLens JSON envelopes around Apache access and error lines;
  *  - `eks/`: Fluent Bit kubernetes envelopes around NGINX access lines
  *    (combined format) and NGINX error lines;
  *  - `lambda/`: Lambda Logs-API batches, one JSON array per line.
  *
  * Every source except lambda carries a `junkShare` of unique lines that
  * match no grammar. Event times are uniform over `days` days, so each
  * micro-batch writes several (log_date, source) partitions. File
  * modification times interleave the sources, so a per-trigger file cap
  * gives every batch a mix of them.
  */
object LogGen {
  val sources: Seq[String] = Seq("ec2", "ecs", "eks", "lambda")
  /** Files per source; every file holds `linesPerFile` lines. */
  val filesPerSource: Map[String, Int] = Map("ec2" -> 6, "ecs" -> 6, "eks" -> 6, "lambda" -> 2)
  val junkShare = 0.03
  /** Share of a source's non-junk lines that are error lines (the rest are access lines). */
  val errorShare: Map[String, Double] = Map("ec2" -> 0.12, "ecs" -> 0.12, "eks" -> 0.22)
  val days = 4

  /** Expected parse of one generated line, keyed by its unique path (access) or msg (error). */
  final case class Expected(source: String, format: String, key: String, tsSec: Long,
                            ip: String, verb: String, path: String, proto: String,
                            status: Long, bytes: Long, referrer: String, agent: String,
                            level: String, msg: String, container: String, stream: String)

  final case class Backlog(dir: String, lines: Long, counts: Map[(String, String), Long],
                           junk: Seq[String], sample: Seq[Expected])

  private val verbs = Array("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val statuses = Array(200L, 200L, 200L, 201L, 304L, 404L, 500L, 503L)
  private val words = Array("items", "users", "orders", "cart", "search", "login", "static", "health")
  private val agents = Array(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 13_5) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.5 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "curl/8.4.0",
    "ELB-HealthChecker/2.0")
  private val referrers = Array("-", "https://example.com/", "https://example.com/search?q=logs")
  private val levels = Array("error", "warn", "crit", "notice")
  private val accessTs = DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss Z", Locale.ENGLISH).withZone(ZoneOffset.UTC)
  private val apacheErrTs = DateTimeFormatter.ofPattern("EEE MMM dd HH:mm:ss yyyy", Locale.ENGLISH).withZone(ZoneOffset.UTC)
  private val nginxTs = DateTimeFormatter.ofPattern("yyyy/MM/dd HH:mm:ss", Locale.ENGLISH).withZone(ZoneOffset.UTC)
  private val isoTs = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'", Locale.ENGLISH).withZone(ZoneOffset.UTC)

  /** Every `sampleEvery`-th line's expected parse is kept for the field check. */
  private val sampleEvery = 97

  def write(dir: String, seed: Long, linesPerFile: Int): Backlog = {
    val rnd = new SplittableRandom(seed)
    val t0 = Instant.parse("2024-03-01T00:00:00Z").getEpochSecond
    val counts = mutable.Map[(String, String), Long]().withDefaultValue(0L)
    val junk = mutable.ArrayBuffer[String]()
    val sample = mutable.ArrayBuffer[Expected]()
    var uid = 0L
    var lines = 0L
    val mtimeBase = 1700000000000L
    val maxFiles = filesPerSource.values.max
    for (i <- 0 until maxFiles; (src, si) <- sources.zipWithIndex if i < filesPerSource(src)) {
      val f = new File(s"$dir/$src/part-$i.log")
      f.getParentFile.mkdirs()
      val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8))
      for (_ <- 0 until linesPerFile) {
        uid += 1
        val sec = t0 + rnd.nextLong(days * 86400L)
        val ip = s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${1 + rnd.nextInt(254)}"
        val r = rnd.nextDouble()
        val (line, format, exp) =
          if (src == "lambda") (lambdaBatch(rnd, sec, uid), "lambda", None)
          else if (r < junkShare) {
            val j = s"junk-$seed-$uid ${words(rnd.nextInt(words.length))} <<truncated"
            (j, "junk", None)
          } else if (r < junkShare + errorShare(src) * (1 - junkShare)) {
            val lvl = levels(rnd.nextInt(levels.length))
            if (src == "eks") {
              val msg = s"""open() "/usr/share/nginx/html/req-$uid" failed (2: No such file or directory)"""
              val l = s"${nginxTs.format(Instant.ofEpochSecond(sec))} [$lvl] 1#1: *${rnd.nextInt(9999)} $msg, client: $ip, server: localhost"
              (l, "nginx_error", Some(Expected(src, "nginx_error", msg, sec, ip, null, null, null,
                0L, 0L, null, null, lvl, msg, null, null)))
            } else {
              val msg = s"File does not exist: /var/www/html/req-$uid"
              val l = s"[${apacheErrTs.format(Instant.ofEpochSecond(sec))}] [$lvl] [client $ip] $msg"
              (l, "error", Some(Expected(src, "error", msg, sec, ip, null, null, null,
                0L, 0L, null, null, lvl, msg, null, null)))
            }
          } else {
            val verb = verbs(rnd.nextInt(verbs.length))
            val path = s"/api/${words(rnd.nextInt(words.length))}/$uid"
            val status = statuses(rnd.nextInt(statuses.length))
            val size = rnd.nextLong(20000L)
            val ref = referrers(rnd.nextInt(referrers.length))
            val agent = agents(rnd.nextInt(agents.length))
            val l = s"""$ip - - [${accessTs.format(Instant.ofEpochSecond(sec))}] "$verb $path HTTP/1.1" $status $size "$ref" "$agent""""
            (l, "access", Some(Expected(src, "access", path, sec, ip, verb, path, "HTTP/1.1",
              status, size, ref, agent, null, null, null, null)))
          }
        val wire = src match {
          case "ecs" => firelens(line, exp.exists(_.format == "error"))
          case "eks" => fluentBit(line)
          case _ => line
        }
        counts((src, format)) += 1
        if (format == "junk") junk += wire
        exp.filter(_ => uid % sampleEvery == 0).foreach { e =>
          sample += (src match {
            case "ecs" => e.copy(container = "web", stream = if (e.format == "error") "stderr" else "stdout")
            case "eks" => e.copy(container = "nginx", stream = "stdout")
            case _ => e
          })
        }
        w.write(wire); w.write('\n')
        lines += 1
      }
      w.close()
      f.setLastModified(mtimeBase + (i * sources.length + si) * 1000L)
    }
    Backlog(dir, lines, counts.toMap, junk.toSeq, sample.toSeq)
  }

  private def firelens(line: String, stderr: Boolean): String =
    s"""{"container_id":"4f1c2b","container_name":"web","ecs_cluster":"unified-logs",""" +
      s""""ecs_task_arn":"arn:aws:ecs:us-east-1:111122223333:task/unified-logs/4f1c2b",""" +
      s""""source":"${if (stderr) "stderr" else "stdout"}","log":${Json.str(line)}}"""

  private def fluentBit(line: String): String =
    s"""{"log":${Json.str(line)},"stream":"stdout","kubernetes":{"pod_name":"nginx-7c9d","namespace_name":"default",""" +
      s""""container_name":"nginx","host":"ip-10-0-1-17.ec2.internal"}}"""

  private def lambdaBatch(rnd: SplittableRandom, sec: Long, uid: Long): String = {
    val t = isoTs.format(Instant.ofEpochSecond(sec))
    val req = f"$uid%08x-0000-4000-8000-${rnd.nextLong(1L << 40)}%012x"
    Seq(
      s"""{"time":"$t","type":"platform.start","record":{"requestId":"$req","version":"$$LATEST"}}""",
      s"""{"time":"$t","type":"function","record":${Json.str(s"$t\t$req\tINFO\tprocessed order $uid")}}""",
      s"""{"time":"$t","type":"platform.runtimeDone","record":{"requestId":"$req","status":"success"}}"""
    ).mkString("[", ",", "]")
  }
}
