package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.sources.LogStore
import graft.streaming.{IngestMetrics, LogPipeline}

/** The reference's own workload: a seeded raw-log backlog replayed
  * through `LogPipeline.startIngest` (AvailableNow, a fixed per-trigger
  * file cap), then `LogStore.compact` on the store it wrote. A round is
  * one such replay into a fresh store and checkpoint; the timed phase
  * runs whole rounds until its time is up.
  */
object Ingest {
  val linesPerFile = 2500
  val filesPerTrigger = 2
  /** The untimed warm-up round: the same files, of 50 lines each, 6 per batch. */
  val warmLinesPerFile = 50
  val warmFilesPerTrigger = 6
  /** A round has 10 micro-batches, too few for 10 beyond any percentile. */
  val tailPct = 75.0

  final case class Round(out: String, queryId: String, lines: Long, queryMs: Double,
                         compactMs: Double, batches: Seq[StreamingQueryProgress], ok: Boolean) {
    def ops: Seq[Op] = batches.map(b => Op("batch", s"$queryId/${b.batchId}", 0.0,
      b.batchDuration.toDouble, 0L, ok, b.numInputRows.toDouble))
  }

  private def dur(p: StreamingQueryProgress, keys: String*): Double =
    keys.map(k => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum

  private def parquetFiles(spark: SparkSession, root: String): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).toSeq
  }

  /** The backlog as a static frame with the stream's (value, source) shape. */
  private def staticLines(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("recursiveFileLookup", "true").text(paths: _*)
      .withColumn("source", regexp_extract(input_file_name(), "/(ec2|ecs|eks|lambda)/", 1))

  def run(spark0: SparkSession, a: Main.Args, res: Result): SparkSession = {
    var spark = spark0
    val backlog = LogGen.write(s"${a.work}/backlog", a.seed, linesPerFile)
    val warm = LogGen.write(s"${a.work}/warmup", a.seed + 1, warmLinesPerFile)
    val metrics = new IngestMetrics(spark).attach()
    var roundNo = 0
    var lastOut: Option[String] = None

    def round(src: LogGen.Backlog, tracer: Option[Tracer], perTrigger: Int = filesPerTrigger,
              beforeCompact: String => Unit = _ => ()): Round = {
      roundNo += 1
      val base = s"${a.work}/ingest/round-$roundNo"
      def wrap[T](name: String, layer: String)(body: => T): T =
        tracer.fold(body)(_.span(name, layer, s"round-$roundNo")(body))
      val t0 = System.nanoTime()
      val (q, ok) = wrap("query", "client") {
        val q = LogPipeline.startIngest(spark, src.dir, s"$base/store", s"$base/checkpoint",
          Trigger.AvailableNow(), Some(perTrigger))
        val ok = try { q.awaitTermination(); q.exception.isEmpty } catch {
          case NonFatal(e) => System.err.println(s"[perfbench] ingest failed: $e"); false
        }
        (q, ok)
      }
      val queryMs = (System.nanoTime() - t0) / 1e6
      beforeCompact(s"$base/store")
      val t1 = System.nanoTime()
      val compacted = ok && (try { wrap("compact", "sources")(LogStore.compact(spark, s"$base/store/logs")); true }
        catch { case NonFatal(e) => System.err.println(s"[perfbench] compact failed: $e"); false })
      val compactMs = (System.nanoTime() - t1) / 1e6
      lastOut.foreach(o => Session.deleteTree(o.stripSuffix("/store")))
      lastOut = Some(s"$base/store")
      Round(s"$base/store", q.id.toString, src.lines, queryMs, compactMs,
        q.recentProgress.filter(_.numInputRows > 0).toSeq, ok && compacted)
    }

    round(warm, None, warmFilesPerTrigger)
    val setup = Session.setupSeconds()

    /** `beforeCompact(i, store)` runs untimed between round i's query and its compaction. */
    def phase(tracer: Option[Tracer], beforeCompact: (Int, String) => Unit): (Phase, Seq[Round]) = {
      val rs = collection.mutable.ArrayBuffer[Round]()
      val p = Phase.run(a.seconds) { i =>
        val r = round(backlog, tracer, beforeCompact = beforeCompact(i, _))
        rs += r
        r.ops
      }
      (p, rs.toSeq)
    }
    val (untraced, uRounds) = phase(None, (i, out) => if (i == 0) idempotenceCheck(spark, out, res))
    untraced.ops.foreach(o => res.op(o.ok))
    // a round's wall time is its query and its compaction
    def lineRate(rs: Seq[Round]): Double =
      Stats.sum(rs.map(_.lines.toDouble)) / (Stats.sum(rs.map(r => r.queryMs + r.compactMs)) / 1000.0)

    if (!a.trace) {
      val batchMs = uRounds.flatMap(_.batches.map(_.batchDuration.toDouble))
      res.metric("setup_s", setup, "s")
      res.metric("throughput", lineRate(uRounds), "1/s")
      res.metric("p50_ms", if (batchMs.nonEmpty) Stats.median(batchMs) else 0.0, "ms")
      res.metric("tail_ms", if (batchMs.nonEmpty) Stats.pct(batchMs, tailPct) else 0.0, "ms")
      res.metric("retained_mb", JvmClock.retainedMb(), "MB")
      res.artifact("samples") = batchMs.length.toString
    }
    checks(spark, uRounds.last, backlog, metrics, res, None)

    if (a.trace) {
      val tracer = new Tracer(spark).attach()
      var filesIn = 0
      val (traced, tRounds) = phase(Some(tracer), (_, out) => filesIn = parquetFiles(spark, s"$out/logs").length)
      tracer.detach()
      traced.ops.foreach(o => res.op(o.ok))
      val r = Layers.fromPhase(res, tracer, traced, untraced, a.cpus)
      // the operator slots describe SparkEntry requests; ingest issues none
      Seq("top1", "top2", "top3").foreach { t =>
        Seq("construct_ms", "construct_jobs", "exec_ms").foreach(m => r(s"operators.$t.$m") = 0.0)
      }
      res.artifact.remove("top_queries")
      val batches = tRounds.flatMap(_.batches)
      r("streaming.batches") = batches.length.toDouble / tRounds.length
      r("streaming.add_batch_p50_ms") = Stats.median(batches.map(dur(_, "addBatch")))
      r("streaming.add_batch_sum_ms") = Stats.sum(batches.map(dur(_, "addBatch"))) / tRounds.length
      r("streaming.plan_ms") = Stats.sum(batches.map(dur(_, "queryPlanning"))) / batches.length
      r("streaming.commit_ms") = Stats.sum(batches.map(dur(_, "walCommit", "commitOffsets"))) / batches.length
      r("sources.list_ms") = Stats.sum(batches.map(dur(_, "latestOffset", "getBatch"))) / batches.length
      r("sources.compact_ms") = Stats.median(tRounds.map(_.compactMs))
      val out = parquetFiles(spark, s"${tRounds.last.out}/logs")
      r("sources.compact_files_in") = filesIn.toDouble
      r("sources.compact_files_out") = out.length.toDouble
      r("sources.compact_bytes_rewritten") = Stats.sum(out.map(_.toDouble))
      checks(spark, tRounds.last, backlog, metrics, res, Some(r))

      // the transform alone, over a static read of the same files
      val transformMs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        LogPipeline.transformed(staticLines(spark, backlog.dir)).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }
      r("functions.transform_lines_per_s") = backlog.lines / (Stats.median(transformMs) / 1000.0)

      // the sink alone, on a cached parsed batch of one file per source
      val subset = LogGen.sources.map(s => s"${backlog.dir}/$s/part-0.log")
      val parsed = LogPipeline.transformed(staticLines(spark, subset: _*))
        .filter(col("valid")).drop("valid", "line").persist()
      parsed.count()
      val sinkMs = (1 to 3).map { i =>
        val root = s"${a.work}/sink-$i"
        val t0 = System.nanoTime()
        LogPipeline.idempotentBatchWrite(parsed, root, 0L, Seq("log_date", "source"))
        (System.nanoTime() - t0) / 1e6
      }
      parsed.unpersist()
      val written = parquetFiles(spark, s"${a.work}/sink-1")
      val inputBytes = subset.map(new java.io.File(_).length).sum
      r("sources.sink_ms") = Stats.median(sinkMs)
      r("sources.files_written") = written.length.toDouble
      r("sources.bytes_written_per_input_byte") = Stats.sum(written.map(_.toDouble)) / inputBytes

      // single-core baseline of the same round
      spark.stop()
      spark = Session.start(1, a.work)
      val single = round(backlog, None)
      res.op(single.ok)
      r("streaming.core_scaling") = lineRate(uRounds) / lineRate(Seq(single))
      Layers.emit(res, r)
    }
    spark
  }

  /** Re-running the sink for a committed epoch must not change the store. */
  private def idempotenceCheck(spark: SparkSession, out: String, res: Result): Unit =
    res.check("re-delivered epoch leaves the store unchanged") {
      val root = s"$out/logs"
      val before = spark.read.parquet(root).count()
      val epoch0 = spark.read.parquet(root).filter(col("epoch") === 0).drop("epoch")
        .localCheckpoint(eager = true)
      val n = epoch0.count()
      LogPipeline.idempotentBatchWrite(epoch0, root, 0L, Seq("log_date", "source"))
      n > 0 && spark.read.parquet(root).count() == before
    }

  /** Conservation, DLQ routing, per-format counts, sampled fields and the
    * program's own ingest metrics, on the last round's compacted store.
    * With `layers` set, fills the per-source DLQ counts and metric rows.
    */
  private def checks(spark: SparkSession, last: Round, backlog: LogGen.Backlog, metrics: IngestMetrics,
                     res: Result, layers: Option[collection.mutable.Map[String, Double]]): Unit = {
    res.check("ingest query and compaction succeeded")(last.ok)
    if (!last.ok) return
    def bySource(path: String): Map[String, Long] =
      if (!new java.io.File(path).exists()) Map.empty
      else spark.read.parquet(path).groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val logs = spark.read.parquet(s"${last.out}/logs")
    val dlq = spark.read.parquet(s"${last.out}/dlq")
    val inLogs = bySource(s"${last.out}/logs")
    val inDlq = bySource(s"${last.out}/dlq")
    val inDelivery = bySource(s"${last.out}/delivery_dlq")
    val generated = backlog.counts.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    // lambda is excluded: where its rows land is the pipeline's decision
    Seq("ec2", "ecs", "eks").foreach { s =>
      res.check(s"rows of $s conserved") {
        inLogs.getOrElse(s, 0L) + inDlq.getOrElse(s, 0L) + inDelivery.getOrElse(s, 0L) == generated(s)
      }
    }
    res.check("every junk line is in the dlq") {
      import spark.implicits._
      val junk = backlog.junk.toDF("line")
      dlq.join(junk, "line").count() == backlog.junk.length
    }
    val formats = logs.groupBy("source", "format").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    res.check("per-format counts equal the generator's") {
      val want = backlog.counts.filter { case ((s, f), _) => s != "lambda" && f != "junk" }
      formats.filter(_._1._1 != "lambda") == want
    }
    res.check("sampled parsed fields equal the generated values") {
      val keys = backlog.sample.map(_.key)
      val got = logs.filter(col("path").isin(keys: _*) || col("msg").isin(keys: _*))
        .select(col("source"), col("format"), unix_timestamp(col("ts")).as("ts"), col("ip"),
          col("verb"), col("path"), col("proto"), col("status"), col("bytes"), col("referrer"),
          col("agent"), col("level"), col("msg"), col("container"), col("stream"))
        .collect().map { r =>
          def s(i: Int) = Option(r.getString(i)).orNull
          def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
          LogGen.Expected(s(0), s(1), Option(s(5)).getOrElse(s(12)), l(2), s(3), s(4), s(5), s(6),
            l(7), l(8), s(9), s(10), s(11), s(12), s(13), s(14))
        }.toSet
      val want = backlog.sample.toSet
      if (got != want) System.err.println(s"[perfbench] sample mismatch: ${(want -- got).take(3)} vs ${(got -- want).take(3)}")
      backlog.sample.nonEmpty && got == want
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    // IngestMetrics' run_id column holds the query id
    val metricRows = metrics.snapshot(spark).filter(col("run_id") === last.queryId)
      .agg(sum("num_input_rows")).collect()(0)
    val rows = if (metricRows.isNullAt(0)) 0L else metricRows.getLong(0)
    res.check("IngestMetrics counts every generated line")(rows == backlog.lines)
    layers.foreach { r =>
      r("streaming.metrics_rows") = rows.toDouble
      LogGen.sources.foreach(s => r(s"sources.dlq_rows.$s") = inDlq.getOrElse(s, 0L).toDouble)
    }
  }
}
