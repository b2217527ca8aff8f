package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` 0 marks a root; times are epoch ms. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      layer: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Clocks and counters readable without any listener: JVM GC and JIT
  * time, Spark's generated-code compile histogram, and the peak RSS.
  */
object JvmClock {
  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum.toDouble

  def jitMs(): Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)

  /** Generated-class compile time: Spark keeps only a sampled histogram,
    * so the total is estimated as compile count × sampled mean.
    */
  def codegenMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Memory the JVM still holds once garbage is gone: heap in use after
    * a full collection plus non-heap (metaspace, code cache). Unlike the
    * RSS peak it does not depend on when the collector happened to run.
    */
  def retainedMb(): Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Epoch milliseconds at sub-millisecond resolution. */
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** The traced run's recorder. It wraps the benchmark's calls into the
  * program in spans (tagging the Spark jobs they fire through a local
  * property), and registers a SparkListener (jobs, stages, task
  * metrics), a QueryExecutionListener (analysis / optimization /
  * planning phases) and a StreamingQueryListener (micro-batches and
  * their phase durations). Everything stays in memory until `spans()`
  * links it up at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val wrapped = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.Map[Int, JobRec]()
  private val stages = mutable.Map[(Int, Int), StageRec]()
  private val phases = mutable.ArrayBuffer[(String, Double, Double)]()
  private val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
  val counters: mutable.Map[String, Double] = mutable.Map[String, Double]().withDefaultValue(0.0)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, e.time.toDouble, e.stageIds,
        prop(SpanKey).map(_.toLong), prop("sql.streaming.queryId"),
        prop("streaming.sql.batchId").map(_.toLong))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time.toDouble))
      counters("spark.jobs") += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val key = (i.stageId, i.attemptNumber())
      val rec = stages.getOrElseUpdate(key, StageRec(i.stageId))
      rec.start = i.submissionTime.map(_.toDouble).getOrElse(0.0)
      rec.end = i.completionTime.map(_.toDouble).getOrElse(rec.start)
      counters("spark.stages") += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val rec = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), StageRec(e.stageId))
      rec.taskMs += e.taskInfo.duration.toDouble
      counters("spark.tasks") += 1
      Option(e.taskMetrics).foreach { m =>
        counters("spark.executor_run_ms") += m.executorRunTime
        counters("spark.executor_cpu_ms") += m.executorCpuTime / 1e6
        counters("spark.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counters("spark.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counters("spark.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        counters("spark.input_bytes") += m.inputMetrics.bytesRead
        counters("spark.output_bytes") += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
        counters(s"plans.${name}_ms") += p.durationMs
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  /** Run `body` inside a span; jobs it fires carry the span id. */
  def span[T](name: String, layer: String, trace: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current.get()
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanKey)
    current.set(id)
    sc.setLocalProperty(SpanKey, id.toString)
    val start = JvmClock.nowMs()
    try body
    finally {
      val end = JvmClock.nowMs()
      current.set(parent)
      sc.setLocalProperty(SpanKey, prevProp)
      synchronized { wrapped += Span(id, parent, trace, name, layer, start, end) }
    }
  }

  /** All spans: the wrappers, then micro-batches and their phases,
    * planning phases, jobs and stages linked to their parents.
    */
  def spans(): Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer[Span]() ++= wrapped
    // micro-batches: progress timestamp + durationMs, phases laid out in
    // MicroBatchExecution's order
    val addBatchOf = mutable.Map[(String, Long), Long]()
    progress.foreach { e =>
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val trig = d.getOrElse("triggerExecution", 0.0)
      val root = out.find(s => s.parent == 0 && s.start <= start && start <= s.end).map(_.id).getOrElse(0L)
      val batchId = ids.incrementAndGet()
      val trace = s"${p.id}/${p.batchId}"
      out += Span(batchId, root, trace, "batch", "streaming", start, start + trig)
      var t = start
      Seq("latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
        "queryPlanning" -> "plans", "addBatch" -> "sources", "commitOffsets" -> "streaming")
        .foreach { case (k, layer) =>
          d.get(k).foreach { ms =>
            val id = ids.incrementAndGet()
            out += Span(id, batchId, trace, k, layer, t, t + ms)
            if (k == "addBatch") addBatchOf((p.id.toString, p.batchId)) = id
            t += ms
          }
        }
    }
    // planning phases: innermost enclosing non-leaf span
    val containers = out.toVector
    phases.foreach { case (name, s, e) =>
      val parent = containers.filter(c => c.start <= s && e <= c.end + 1)
        .sortBy(_.dur).headOption
      out += Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L),
        parent.map(_.trace).getOrElse(""), name, "plans", s, e)
    }
    val traceOf = out.map(s => s.id -> s.trace).toMap
    jobs.values.foreach { j =>
      // a micro-batch's jobs also inherit the span property of the
      // thread that started the query, so the batch link goes first
      val parent = (for (q <- j.queryId; b <- j.batchId; a <- addBatchOf.get((q, b))) yield a)
        .orElse(j.span)
        .orElse(containers.filter(c => c.start <= j.start && j.start <= c.end).sortBy(_.dur).headOption.map(_.id))
        .getOrElse(0L)
      val jid = ids.incrementAndGet()
      out += Span(jid, parent, traceOf.getOrElse(parent, ""), s"job ${j.jobId}", "spark_job", j.start, j.end)
      j.stageIds.foreach { sid =>
        stages.collect { case ((`sid`, _), r) if r.end > 0 => r }.foreach { r =>
          out += Span(ids.incrementAndGet(), jid, traceOf.getOrElse(parent, ""),
            s"stage $sid", "spark_stage", r.start, r.end)
        }
      }
    }
    out.toSeq
  }

  /** Max ÷ median task time of the longest stage. */
  def stageSkew(): Double = synchronized {
    val longest = stages.values.filter(_.taskMs.nonEmpty).toSeq.sortBy(r => -(r.end - r.start)).headOption
    longest.map { r =>
      val med = Stats.median(r.taskMs.toSeq)
      if (med > 0) r.taskMs.max / med else 1.0
    }.getOrElse(0.0)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class JobRec(jobId: Int, start: Double, end: Double, stageIds: Seq[Int],
                          span: Option[Long], queryId: Option[String], batchId: Option[Long])

  final class StageRec(val stageId: Int) {
    var start = 0.0
    var end = 0.0
    val taskMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer[Double]()
  }
  object StageRec { def apply(id: Int): StageRec = new StageRec(id) }

  /** Span duration minus the part of it its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN) { curS = a; curE = b }
        else if (a <= curE) curE = math.max(curE, b)
        else { covered += curE - curS; curS = a; curE = b }
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }

  def toJson(s: Span): String = Json.obj(Seq(
    "id" -> s.id.toString, "parent" -> s.parent.toString, "trace" -> Json.str(s.trace),
    "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
    "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end)))
}
