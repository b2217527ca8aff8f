package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A seeded stand-in for the `events` table the discover requests
  * read, with the schema and value shapes of the repository's test
  * data: events uniform over 1500 users, five event types and thirty
  * days, with exponential values.
  */
object TableGen {
  private val eventTypes = Array("signup", "purchase", "view", "click", "error")

  def events(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val rnd = new SplittableRandom(seed)
    val start = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanUs = 30L * 86400L * 1000000L
    // sorted offsets keep ts increasing with event_id, as in the test data
    val offsets = Array.fill(n)(rnd.nextLong(spanUs)).sorted
    val rows = (0 until n).map { i =>
      val value = math.round(-math.log(1.0 - rnd.nextDouble()) * 50.0 * 100) / 100.0
      Row(i.toLong, start.plusNanos(offsets(i) * 1000L), rnd.nextLong(1500L),
        eventTypes(rnd.nextInt(eventTypes.length)), value,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}
