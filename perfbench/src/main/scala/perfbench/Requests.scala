package perfbench

import java.util.SplittableRandom

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Scratch

/** One timed request: the SparkEntry function builds the frame, then
  * the full result is materialized through the `noop` sink, so column
  * pruning cannot skip the work (a `count()` would let the optimizer
  * drop parse and sketch columns).
  */
final case class Op(name: String, trace: String, constructMs: Double, execMs: Double,
                    builds: Long, ok: Boolean, units: Double = 1.0) {
  def ms: Double = constructMs + execMs
}

object Requests {
  /** Discover traffic: (query, weight). The plain search and the date
    * histogram weigh double because a Discover refresh issues both.
    */
  val discoverMix: Seq[(String, Int)] = Seq(
    "q_search" -> 2, "q_search_wildcard" -> 1, "q_query_string" -> 1, "q_query_dsl" -> 1,
    "q_ppl" -> 1,
    "q_terms_agg" -> 1, "q_terms_by_metric" -> 1, "q_terms_other" -> 1, "q_filters_agg" -> 1,
    "q_rare_terms" -> 1,
    "q_date_histogram" -> 2, "q_auto_date_histogram" -> 1, "q_date_histogram_tz" -> 1,
    "q_date_histogram_cal" -> 1, "q_date_histogram_filled" -> 1,
    "q_cardinality" -> 1, "q_cardinality_approx" -> 1, "q_percentiles" -> 1,
    "q_percentiles_approx" -> 1,
    "q_error_rate" -> 1, "q_top_users_per_type" -> 1,
    "q_apache_parse" -> 1, "q_user_agents" -> 1, "q_firelens_parse" -> 1)

  /** Rows of the generated events table: the row count of the
    * repository's sf0.1 test data, so requests cost what they cost there.
    */
  val discoverEvents = 100000

  /** The highest percentile of a 26-request round with 10 requests beyond it. */
  val tailPct = 60.0

  def call(spark: SparkSession, name: String, dir: String, tracer: Option[Tracer],
           trace: String): Op = {
    def wrap[T](span: String, layer: String)(body: => T): T =
      tracer.fold(body)(_.span(span, layer, trace)(body))
    val b0 = Scratch.buildCount.get
    try wrap("request", "client") {
      val t0 = System.nanoTime()
      val df = wrap("construct", "operators")(SparkEntry.queries(name)(spark, dir))
      val t1 = System.nanoTime()
      wrap("execute", "sql")(df.write.format("noop").mode("overwrite").save())
      val t2 = System.nanoTime()
      Op(name, trace, (t1 - t0) / 1e6, (t2 - t1) / 1e6, Scratch.buildCount.get - b0, ok = true)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        Op(name, trace, 0, 0, Scratch.buildCount.get - b0, ok = false)
    }
  }

  /** The untimed warm-up call of a query: it writes the full response
    * for the oracle compare, so the warm-up doubles as the check pass.
    */
  private def warmUp(spark: SparkSession, name: String, dir: String, work: String,
                     res: Result): Unit = {
    val path = s"$work/responses/$name"
    val t0 = System.nanoTime()
    val ok = try {
      SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(path)
      true
    } catch {
      case NonFatal(e) => System.err.println(s"[perfbench] $name response failed: $e"); false
    }
    res.synchronized {
      if (ok) res.oracle += ((name, path, SparkEntry.oracleSql.get(name))) else res.op(false)
    }
    System.err.println(f"[perfbench] warm-up $name: ${(System.nanoTime() - t0) / 1e6}%.0f ms")
  }

  private def shuffled[T](xs: Seq[T], rnd: SplittableRandom): Seq[T] = {
    val arr = xs.toBuffer
    for (i <- arr.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr.toSeq
  }

  def discover(spark: SparkSession, a: Main.Args, res: Result): Unit = {
    val dir = s"${a.work}/data"
    TableGen.events(spark, dir, a.seed, discoverEvents)
    System.err.println(f"[perfbench] inputs ready at ${Session.setupSeconds()}%.1f s")
    // a round issues every query `weight` times in seeded order, so every
    // seed sends the same mix and only the order varies
    def round(k: Int): Seq[String] = shuffled(discoverMix.flatMap { case (n, w) => Seq.fill(w)(n) },
      new SplittableRandom(a.seed * 1000003L + k))
    var roundNo = 0
    def phase(tracer: Option[Tracer]): Phase = Phase.run(a.seconds) { _ =>
      roundNo += 1
      round(roundNo).zipWithIndex.map { case (n, i) => call(spark, n, dir, tracer, s"r$roundNo.$i") }
    }
    // Warm-up, untimed. A cold JVM pays ~1 s of planning and code
    // generation per query shape; the discover queries share no scratch
    // state, so one call of each runs concurrently (and writes its
    // response for the oracle compare).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(4, a.cpus))
    discoverMix.map { case (n, _) => pool.submit(new Runnable {
      def run(): Unit = warmUp(spark, n, dir, a.work, res)
    }) }.foreach(_.get())
    pool.shutdown()
    val setup = Session.setupSeconds()

    val untraced = phase(None)
    untraced.ops.foreach(o => res.op(o.ok))
    res.check("discover requests build no Scratch artifacts")(untraced.ops.map(_.builds).sum == 0)
    if (!a.trace) Phase.endToEnd(res, untraced, setup, tailPct)
    else {
      val tracer = new Tracer(spark).attach()
      val traced = phase(Some(tracer))
      tracer.detach()
      val r = Layers.fromPhase(res, tracer, traced, untraced, a.cpus)
      r("sources.scratch_builds") = traced.ops.groupBy(_.name).values.map(_.head.builds).sum.toDouble
      Layers.emit(res, r)
    }
  }
}

/** A closed-loop timed phase: one client issues the next step after the
  * previous one completes, until `seconds` have passed. A step is a whole
  * round of requests or ingest round, so every run measures
  * the same mix; the step in flight at the deadline completes and counts.
  */
final case class Phase(ops: Seq[Op], wallMs: Double, gcMs: Double, jitMs: Double,
                       codegenMs: Double)

object Phase {
  def run(seconds: Int)(step: Int => Seq[Op]): Phase = {
    val gc0 = JvmClock.gcMs(); val jit0 = JvmClock.jitMs(); val cg0 = JvmClock.codegenMs()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val ops = Seq.newBuilder[Op]
    var i = 0
    while (System.nanoTime() < deadline) { ops ++= step(i); i += 1 }
    Phase(ops.result(), (System.nanoTime() - t0) / 1e6, JvmClock.gcMs() - gc0,
      JvmClock.jitMs() - jit0, JvmClock.codegenMs() - cg0)
  }

  def endToEnd(res: Result, p: Phase, setupS: Double, tailPct: Double): Unit = {
    val ok = p.ops.filter(_.ok).map(_.ms)
    res.metric("setup_s", setupS, "s")
    res.metric("throughput", ok.length / (p.wallMs / 1000.0), "1/s")
    res.metric("p50_ms", if (ok.nonEmpty) Stats.median(ok) else 0.0, "ms")
    res.metric("tail_ms", if (ok.nonEmpty) Stats.pct(ok, tailPct) else 0.0, "ms")
    res.metric("retained_mb", JvmClock.retainedMb(), "MB")
    res.artifact("samples") = ok.length.toString
  }
}
