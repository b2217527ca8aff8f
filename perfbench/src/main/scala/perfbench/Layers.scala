package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced phase. Every workload reports the
  * full set, with 0 for a layer it does not exercise; counts and times
  * are per operation (a request on discover, a micro-batch on ingest)
  * unless the unit says otherwise.
  */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count",
    "streaming.add_batch_p50_ms" -> "ms",
    "streaming.add_batch_sum_ms" -> "ms",
    "streaming.plan_ms" -> "ms",
    "streaming.commit_ms" -> "ms",
    "streaming.metrics_rows" -> "count",
    "streaming.core_scaling" -> "ratio",
    "functions.transform_lines_per_s" -> "1/s",
    "sources.list_ms" -> "ms",
    "sources.sink_ms" -> "ms",
    "sources.files_written" -> "count",
    "sources.bytes_written_per_input_byte" -> "ratio",
    "sources.compact_ms" -> "ms",
    "sources.compact_files_in" -> "count",
    "sources.compact_files_out" -> "count",
    "sources.compact_bytes_rewritten" -> "bytes",
    "sources.dlq_rows.ec2" -> "count",
    "sources.dlq_rows.ecs" -> "count",
    "sources.dlq_rows.eks" -> "count",
    "sources.dlq_rows.lambda" -> "count",
    "sources.scratch_builds" -> "count",
    "operators.top1.construct_ms" -> "ms",
    "operators.top1.construct_jobs" -> "count",
    "operators.top1.exec_ms" -> "ms",
    "operators.top2.construct_ms" -> "ms",
    "operators.top2.construct_jobs" -> "count",
    "operators.top2.exec_ms" -> "ms",
    "operators.top3.construct_ms" -> "ms",
    "operators.top3.construct_jobs" -> "count",
    "operators.top3.exec_ms" -> "ms",
    "operators.latency_drift" -> "ratio",
    "plans.analysis_ms" -> "ms/op",
    "plans.optimization_ms" -> "ms/op",
    "plans.planning_ms" -> "ms/op",
    "spark.jobs" -> "count/op",
    "spark.stages" -> "count/op",
    "spark.tasks" -> "count/op",
    "spark.executor_run_ms" -> "ms/op",
    "spark.executor_cpu_ms" -> "ms/op",
    "spark.core_busy_frac" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes/op",
    "spark.shuffle_read_bytes" -> "bytes/op",
    "spark.spill_bytes" -> "bytes/op",
    "spark.input_bytes" -> "bytes/op",
    "spark.output_bytes" -> "bytes/op",
    "spark.stage_skew" -> "ratio",
    "jvm.gc_ms" -> "ms/op",
    "jvm.jit_ms" -> "ms/op",
    "jvm.codegen_compile_ms" -> "ms/op",
    "jvm.peak_rss_mb" -> "MB",
    "trace.spans" -> "count/op",
    "trace.self_ms.client" -> "ms/op",
    "trace.self_ms.operators" -> "ms/op",
    "trace.self_ms.sql" -> "ms/op",
    "trace.self_ms.plans" -> "ms/op",
    "trace.self_ms.streaming" -> "ms/op",
    "trace.self_ms.sources" -> "ms/op",
    "trace.self_ms.spark_job" -> "ms/op",
    "trace.self_ms.spark_stage" -> "ms/op",
    "trace.overhead_frac" -> "ratio")

  /** Work units done per wall second by a phase's successful operations. */
  def rate(p: Phase): Double = Stats.sum(p.ops.filter(_.ok).map(_.units)) / (p.wallMs / 1000.0)

  def fromPhase(res: Result, tracer: Tracer, traced: Phase, untraced: Phase,
                cpus: Int): mutable.Map[String, Double] = {
    val r = mutable.LinkedHashMap[String, Double]() ++= names.map(_._1 -> 0.0)
    val ops = traced.ops.filter(_.ok)
    val n = math.max(1, ops.length).toDouble
    val c = tracer.counters
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
      "spark.executor_cpu_ms", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
      "spark.spill_bytes", "spark.input_bytes", "spark.output_bytes",
      "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms")
      .foreach(k => r(k) = c(k) / n)
    r("spark.core_busy_frac") = c("spark.executor_run_ms") / (traced.wallMs * cpus)
    r("spark.stage_skew") = tracer.stageSkew()
    r("jvm.gc_ms") = traced.gcMs / n
    r("jvm.jit_ms") = traced.jitMs / n
    r("jvm.codegen_compile_ms") = traced.codegenMs / n
    r("jvm.peak_rss_mb") = JvmClock.peakRssMb()

    val spans = tracer.spans()
    val self = Tracer.selfTimes(spans)
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> Stats.sum(ss.map(s => self(s.id))) }
    byLayer.foreach { case (l, ms) => if (r.contains(s"trace.self_ms.$l")) r(s"trace.self_ms.$l") = ms / n }
    r("trace.spans") = spans.length / n
    val u = rate(untraced)
    r("trace.overhead_frac") = if (u > 0) (u - rate(traced)) / u else 0.0

    // per query: construct / exec medians and jobs fired while constructing
    val constructJobs = {
      val constructIds = spans.filter(_.name == "construct").map(s => s.id -> s.trace).toMap
      spans.filter(s => s.layer == "spark_job" && constructIds.contains(s.parent))
        .groupBy(s => constructIds(s.parent)).map { case (t, js) => t -> js.length }
    }
    val byName = ops.groupBy(_.name).toSeq.sortBy { case (q, os) => (-Stats.sum(os.map(_.ms)), q) }
    byName.take(3).zipWithIndex.foreach { case ((_, os), i) =>
      val k = s"operators.top${i + 1}"
      r(s"$k.construct_ms") = Stats.median(os.map(_.constructMs))
      r(s"$k.exec_ms") = Stats.median(os.map(_.execMs))
      r(s"$k.construct_jobs") = Stats.median(os.map(o => constructJobs.getOrElse(o.trace, 0).toDouble))
    }
    val drifts = byName.collect { case (_, os) if os.length >= 4 =>
      val q = os.length / 4
      Stats.median(os.takeRight(q).map(_.ms)) / Stats.median(os.take(q).map(_.ms))
    }
    r("operators.latency_drift") = if (drifts.nonEmpty) Stats.median(drifts) else 1.0

    res.artifact("top_queries") = Json.arr(byName.take(3).map(q => Json.str(q._1)))
    res.artifact("self_ms_by_layer") = Json.obj(byLayer.toSeq.sorted.map { case (l, v) => l -> Json.num(v) })
    res.artifact("traced_ops") = ops.length.toString
    res.artifact("spans") = Json.arr(spans.map(Tracer.toJson))
    r
  }

  def emit(res: Result, r: collection.Map[String, Double]): Unit =
    names.foreach { case (k, unit) => res.metric(k, r(k), unit) }
}
