package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt test forks one JVM). */
object TestSpark {
  // fixed width: the suite's expectations were measured at 4
  lazy val spark: SparkSession = GraftSession.get(4)
  val sf: String = "/root/testdata/sf0.001"
}
