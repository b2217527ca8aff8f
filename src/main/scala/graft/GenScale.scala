package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for the round-9 empirical scaling check (SURVEY
  * §8h): produces an sfN directory that is `replicas` DISJOINT copies
  * of the source SF, so heavy queries can be benchmarked at ~10× data
  * and their wall-clock ratios inspected for super-linear terms.
  *
  * Design: replica i is a self-contained universe — every key column
  * is offset by `i * (max(key)+1)`, and FK columns use the SAME
  * replica index, so each join stays within its replica and total join
  * output scales exactly ×replicas (the honest scaling shape; welding
  * replicas together would instead multiply fan-outs ×replicas²).
  * Replica 0 is the source data byte-for-byte, so sfN ⊇ sf0.1.
  *
  *  - entity names (`c_name`/`s_name`/`p_name`) get a ` r{i}` suffix
  *    token so name-keyed grouping keeps ×replicas groups (and
  *    substring predicates like TPC-H Q9's `p_name LIKE '%...%'`
  *    still match);
  *  - `documents.text` is perturbed CONTENT-KEYED for i>0: a word at
  *    position p is tagged `~r{i}` iff crc32(word:p) is even — the
  *    decision depends only on (word, position), never doc_id, so two
  *    identical source texts stay identical inside a replica (planted
  *    dup structure preserved) while cross-replica Jaccard drops to
  *    ~⅓ (tagged halves disjoint), below every near-dup threshold —
  *    dedup output therefore scales ×replicas instead of welding the
  *    whole corpus into one giant cluster;
  *  - `embeddings.embedding` is circular-shifted by 6·i positions
  *    (norm-preserving, direction-decorrelating), so the ANN corpus
  *    grows ×replicas without creating near-identical vectors.
  *
  * Not written to git (multi-hundred-MB parquet); regenerate with:
  *   sbt "runMain graft.GenScale /root/testdata/sf0.1 /tmp/graft_data/sf1 10"
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[gen] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    /** Union of per-replica transforms; replica 0 passes through. */
    def replicate(df: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until replicas).map(i => if (i == 0) df else per(df, i)).reduce(_ unionAll _)
    def keyRange(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    // dimension constants: shared by every replica
    write(tbl("region"), "region")
    write(tbl("nation"), "nation")

    val custK = keyRange(tbl("customer"), "c_custkey")
    val suppK = keyRange(tbl("supplier"), "s_suppkey")
    val partK = keyRange(tbl("part"), "p_partkey")
    val ordK = keyRange(tbl("orders"), "o_orderkey")

    write(replicate(tbl("customer")) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * custK))
        .withColumn("c_name", concat(col("c_name"), lit(s"#r$i")))
    }, "customer")

    write(replicate(tbl("supplier")) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppK))
        .withColumn("s_name", concat(col("s_name"), lit(s"#r$i")))
    }, "supplier")

    write(replicate(tbl("part")) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * partK))
        .withColumn("p_name", concat(col("p_name"), lit(s" r$i")))
    }, "part")

    write(replicate(tbl("orders")) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordK))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custK))
    }, "orders")

    write(replicate(tbl("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordK))
        .withColumn("l_partkey", col("l_partkey") + lit(i * partK))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppK))
    }, "lineitem")

    val evK = keyRange(tbl("events"), "event_id")
    val userK = keyRange(tbl("events"), "user_id")
    write(replicate(tbl("events")) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * evK))
        .withColumn("user_id", col("user_id") + lit(i * userK))
    }, "events")

    val docK = keyRange(tbl("documents"), "doc_id")
    write(replicate(tbl("documents")) { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * docK))
        .withColumn("text", expr(
          s"""array_join(transform(split(text, ' '),
             |  (w, p) -> IF(crc32(concat(w, ':', p)) % 2 = 0,
             |              concat(w, '~r$i'), w)), ' ')""".stripMargin))
        .withColumn("n_chars", length(col("text")))
    }, "documents")

    val vecK = keyRange(tbl("embeddings"), "vec_id")
    val dim = tbl("embeddings").select(size(col("embedding"))).head.getInt(0)
    write(replicate(tbl("embeddings")) { (df, i) =>
      val s = (i * 6) % dim
      df.withColumn("vec_id", col("vec_id") + lit(i * vecK))
        .withColumn("embedding", expr(
          s"concat(slice(embedding, ${s + 1}, ${dim - s}), slice(embedding, 1, $s))"))
    }, "embeddings")

    spark.stop()
  }
}
