package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main, the test suite and a library
  * user build their session here, so all of them plan under the same
  * rule set and static confs.
  */
object GraftSession {
  /** Local width: `SPARK_GRAFT_CPUS` if set, else every core. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cpus]` with one shuffle partition per core — never Spark's
    * 200 default on one machine (AQE coalesces on a real cluster).
    */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the driver-generated events table uses parquet TIMESTAMP(NANOS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native expressions available from SQL without registration calls
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // static conf (must precede session creation): the generated-class
      // cache defaults to 100 entries — query batteries the size of this
      // library's thrash it (~+0.1 s per small query once exceeded)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")

  def get(cpus: Int): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
