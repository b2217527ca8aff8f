package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.sources.Scratch

/** Runs one benchmark workload in this JVM and writes its result file.
  *
  *   perfbench.Main --workload ingest|discover --seed N --seconds S
  *                  --trace 0|1 --work DIR --out FILE --cpus C
  *
  * Everything the run writes (inputs, Spark local dirs, scratch
  * artifacts, stores) goes under DIR. `--trace 0` measures the
  * end-to-end metrics with no benchmark listener attached; `--trace 1`
  * runs the same timed phase untraced and then traced, and reports the
  * per-layer metrics of the traced phase. run.py drives this class and
  * runs the DuckDB oracle comparisons listed in the result file.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String, cpus: Int)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("work"), kv("out"), kv("cpus").toInt)
    val res = new Result
    var spark = Session.start(a.cpus, a.work)
    System.err.println(f"[perfbench] session ready at ${Session.setupSeconds()}%.1f s")
    try {
      a.workload match {
        case "ingest" => spark = Ingest.run(spark, a, res)
        case "discover" => Requests.discover(spark, a, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally spark.stop()
    res.write(a.out)
  }
}

object Session {
  /** The session configuration the repository's Bench and Verify use,
    * with every local path pinned under the run's work directory.
    */
  def start(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(Scratch.confKey, s"$work/scratch/session")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoints")
    s
  }

  def setupSeconds(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }
}

/** Operation counts, metrics and pending oracle checks of one run. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  /** (query, Spark result parquet dir, oracle SQL or None for a rows > 0 check) */
  val oracle: mutable.ArrayBuffer[(String, String, Option[String])] = mutable.ArrayBuffer()
  /** Extra JSON members for the traced run's artifact. */
  val artifact: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap()

  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def check(what: String)(cond: => Boolean): Unit = {
    val ok = try cond catch {
      case NonFatal(e) => System.err.println(s"[perfbench] check '$what' threw: $e"); false
    }
    if (!ok) System.err.println(s"[perfbench] check failed: $what")
    op(ok)
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def write(path: String): Unit = {
    val json = Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "oracle" -> Json.arr(oracle.map { case (n, p, sql) =>
        Json.obj(Seq("name" -> Json.str(n), "path" -> Json.str(p),
          "sql" -> sql.map(Json.str).getOrElse("null"))) }),
      "artifact" -> Json.obj(artifact)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }
}
