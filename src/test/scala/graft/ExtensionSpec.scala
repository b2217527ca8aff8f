package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.FreqItemsAgg

/** F-block extension points: the Misra–Gries heavy-hitters aggregator
  * and the opt-in approx-rewrite optimizer rule.
  */
class ExtensionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.sf

  test("the test session plans under the same rule set and confs as Verify and Bench") {
    assert(spark.conf.get("spark.sql.optimizer.excludedRules")
      .contains("InferFiltersFromGenerate"))
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    Seq("cosine_sim", "minhash_sig", "simhash64").foreach { f =>
      assert(spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(f)), s"$f not registered")
    }
  }

  test("freq_items keeps every true heavy hitter with bounded undercount") {
    val events = graft.sources.Tables.events(spark, sf)
    val n = events.count()
    val k = 40
    val exact = events.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fi = FreqItemsAgg.udafFor(k)
    val est = events.agg(fi(col("user_id")).as("top"))
      .select(explode(col("top")))
      .collect().map(r => r.getStruct(0)).map(s => s.getLong(0) -> s.getLong(1)).toMap

    val bound = n / (k + 1)
    // guarantee 1: anything with true count > n/(k+1) must be present
    val mustHave = exact.filter { case (_, c) => c > bound }
    assert(mustHave.keySet.subsetOf(est.keySet),
      s"missing heavy hitters: ${mustHave.keySet -- est.keySet}")
    // guarantee 2: estimates never overcount and undercount by <= bound
    est.foreach { case (item, c) =>
      val t = exact.getOrElse(item, 0L)
      assert(c <= t, s"overcount for $item: est $c > true $t")
      assert(t - c <= bound, s"undercount beyond bound for $item: $t - $c > $bound")
    }
  }

  test("freq_items is mergeable: k above the cardinality gives exact counts on any partitioning") {
    // 5 event types, k=8 -> no counter is ever evicted, so the sketch
    // must be EXACT regardless of how partial buffers are merged
    val events = graft.sources.Tables.events(spark, sf).repartition(7, col("event_id"))
      .select(xxhash64(col("event_type")).as("h"), col("event_type"))
    val exact = events.groupBy(col("h"), col("event_type")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val fi = FreqItemsAgg.udafFor(8)
    val got = events.agg(fi(col("h")).as("top"))
      .select(explode(col("top"))).collect()
      .map(_.getStruct(0)).map(s => s.getLong(0) -> s.getLong(1)).toMap
    assert(got == exact)
  }

  test("approx rewrite: flag on swaps count(distinct) for HLL++, flag off stays exact") {
    val events = graft.sources.Tables.events(spark, sf)
    def cardPlan() = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u"))

    spark.conf.set("spark.graft.approx.rewrite", "false")
    val exactRows = cardPlan().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactPlan = cardPlan().queryExecution.optimizedPlan.toString
    assert(!exactPlan.toLowerCase.contains("approx_count_distinct"))

    spark.conf.set("spark.graft.approx.rewrite", "true")
    try {
      val approxPlan = cardPlan().queryExecution.optimizedPlan.toString
      assert(approxPlan.toLowerCase.contains("approx_count_distinct"),
        s"rule did not fire:\n$approxPlan")
      val approxRows = cardPlan().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      approxRows.foreach { case (t, est) =>
        val ex = exactRows(t).toDouble
        assert(math.abs(est - ex) / ex <= 0.05, s"$t: est $est vs exact $ex")
      }
    } finally spark.conf.set("spark.graft.approx.rewrite", "false")
  }

  test("approx rewrite: exact percentile swaps for t-digest on double inputs only") {
    val events = graft.sources.Tables.events(spark, sf)
    def pct() = events.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(user_id, 0.5)").as("p50_long")) // long child: must NOT rewrite

    spark.conf.set("spark.graft.approx.rewrite", "false")
    val exact = pct().collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    spark.conf.set("spark.graft.approx.rewrite", "true")
    try {
      val plan = pct().queryExecution.optimizedPlan.toString.toLowerCase
      assert(plan.contains("percentile_approx") || plan.contains("approx_percentile"),
        s"double percentile not rewritten:\n$plan")
      assert(plan.contains("percentile(user_id"), s"long percentile was rewritten:\n$plan")
      val approx = pct().collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      approx.foreach { case (t, est) =>
        val ex = exact(t)
        assert(math.abs(est - ex) / math.max(ex, 1.0) <= 0.1, s"$t: $est vs $ex")
      }
    } finally spark.conf.set("spark.graft.approx.rewrite", "false")
  }

  test("F8: raw dashboard aggregate is served from the rollup summary store") {
    import graft.sources.{RollupStore, Tables}
    val root = RollupStore.ensureRollup(spark, sf)
    def rawAgg = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"),
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"))
      .orderBy(col("hour"), col("event_type"))
    val before = rawAgg.collect()
    spark.conf.set("spark.graft.rollup.root", root)
    try {
      val df = rawAgg
      // the executed plan prints scan locations; the logical one doesn't
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("graft-rollup"), s"not rewritten:\n$physical")
      assert(!physical.contains("events.parquet"), s"raw scan survived:\n$physical")
      // the rewritten plan returns EXACTLY the raw aggregate's rows
      assert(df.collect().toSeq == before.toSeq)
      // soundness: a filter under the aggregate disqualifies the rewrite
      val filtered = Tables.events(spark, sf)
        .filter(col("value") > 100)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      assert(filtered.queryExecution.executedPlan.toString.contains("events.parquet"))
      // soundness: an unsupported aggregate (avg) disqualifies the rewrite
      val withAvg = Tables.events(spark, sf)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(avg(col("value")).as("a"))
      assert(withAvg.queryExecution.executedPlan.toString.contains("events.parquet"))
    } finally spark.conf.unset("spark.graft.rollup.root")
  }
}
