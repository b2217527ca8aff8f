package graft.sources

import org.apache.spark.sql.SparkSession

/** Resolution point for every engine-managed scratch artifact. Each
  * one is built once per data fingerprint through [[Scratch.ensure]]
  * and lives at `<root>/<family>-<dir digest>-<gen>`. The families:
  *
  *  - `graft-ivfidx-v3` / `graft-pqidx-v2` / `graft-nngraph-v3-r<R>`:
  *    the IVF, PQ and NN-graph vector indexes (Similarity, GraphAnn);
  *  - `graft-invidx-v3` / `graft-invidxrev-v1`: the inverted index and
  *    its reversed-token arm (InvertedIndex);
  *  - `graft-media-v3`: the synthesized media table (Multimodal);
  *  - `graft-qmodel-v3`: the fitted quality model (QualityModel);
  *  - `graft-bpe-v1`: the learned BPE merge table (BpeTrain);
  *  - `graft-rollup-v1`: the epoch-merged rollup store (RollupStore);
  *  - `graft-canon-v1`: the dedup canonical mapping (Dedup);
  *  - `graft-park-candaudit-v2` / `graft-park-candstats-v1`: the
  *    parked candidate postings + buckets (Dedup).
  *
  * No family may be a prefix of another's `<family>-<dir digest>-`:
  * `ensure` deletes every entry under that prefix but the current
  * generation, so a family spelled as another plus a suffix (the old
  * `<index path>-rev` reverse index) would be swept by the other's
  * next build. `ensure` appends the dir digest itself, so a new
  * family only needs a name no other family's name starts with.
  *
  * These artifacts are written and read by SPARK JOBS — executor
  * tasks on a multi-node cluster — so the root must be a filesystem
  * every node and the driver can see. `java.io.tmpdir` is only that
  * in local mode; a driver-local path on a real cluster means each
  * executor writes its task's files to its own disk and the read-back
  * sees partial or no data. Deployments set `spark.graft.scratch.dir`
  * to a shared location (HDFS / S3 / NFS — the same class of path as
  * the Spark checkpoint dir); the tmpdir default keeps zero-config
  * local runs working.
  */
object Scratch {

  val confKey = "spark.graft.scratch.dir"

  /** Completed fresh artifact builds this JVM: a build that throws is
    * never counted. perfbench diffs it around each timed request and
    * reports the sum as `sources.scratch_builds`, so a warm-scratch run
    * and a cold-scratch run are distinguishable on their face.
    */
  val buildCount = new java.util.concurrent.atomic.AtomicLong(0)

  private val warned = new java.util.concurrent.atomic.AtomicBoolean(false)

  def root(spark: SparkSession): String =
    spark.conf.getOption(confKey).getOrElse {
      // the tmpdir default is only correct when driver and executors
      // share a filesystem — warn LOUDLY (once) on a real cluster
      // instead of silently reading back partial executor-local data
      if (!spark.sparkContext.isLocal && warned.compareAndSet(false, true))
        System.err.println(
          s"[graft] WARNING: $confKey is unset on a non-local master; " +
            "scratch artifacts default to the driver-local java.io.tmpdir, " +
            "which executors cannot share — set it to HDFS/S3/NFS")
      sys.props("java.io.tmpdir")
    }

  /** `<root>/<name>` composed URI-safely (the root may be an
    * `hdfs://`/`s3a://` URI, which `java.io.File` would mangle).
    */
  def path(spark: SparkSession, name: String): String =
    new org.apache.hadoop.fs.Path(root(spark), name).toString

  /** Build-once memoization with generation cleanup — the one place an
    * artifact is keyed, marked complete, swept and counted. An artifact
    * derived from `<dir>/<table>` lives at `<root>/<family>-<gen>`:
    *
    *  - the full family is the given `family` (operator + layout
    *    version) plus a digest of `dir` — stable for the LOGICAL
    *    artifact (the dir digest keeps sf0.001/sf0.01/sf0.1 artifacts
    *    from sweeping each other);
    *  - `gen` encodes everything that invalidates it: the table's
    *    [[fingerprint]] and any derived `knobs`.
    *
    * First call per (family, gen) pays `build(path)`; the `_COMPLETE`
    * marker is written LAST so a crashed build is rebuilt, never read.
    * A fresh build first deletes the family's SUPERSEDED generations —
    * they belong to regenerated data, and without the sweep every
    * in-place regeneration would leak a corpus-sized artifact on the
    * shared scratch root forever. Lifetime contract: frames read from
    * a generation must be drained before its source data regenerates
    * (every caller consumes within one query invocation).
    */
  def ensure(spark: SparkSession, family: String, dir: String, table: String,
             knobs: Any*)(build: String => Unit): String = {
    val fam = s"$family-${digest(dir)}"
    val name = s"$fam-${digest(knobs.map(_.toString) :+ fingerprint(spark, dir, table): _*)}"
    val out = path(spark, name)
    val marker = new org.apache.hadoop.fs.Path(s"$out/_COMPLETE")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      val rootP = new org.apache.hadoop.fs.Path(root(spark))
      scala.util.Try {
        fs.listStatus(rootP)
          .filter(st => st.getPath.getName.startsWith(s"$fam-") &&
            st.getPath.getName != name)
          .foreach(st => fs.delete(st.getPath, true))
      }
      build(out)
      fs.create(marker, true).close()
      buildCount.incrementAndGet()
    }
    out
  }

  /** Digest of `<dir>/<table>`'s file listing (name, length, mtime):
    * regenerating the data in place changes it, so a memoized artifact
    * keyed on it can never serve stale contents for new data.
    */
  def fingerprint(spark: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).sortBy(_.getPath.getName).toSeq
        .map(st => s"${st.getPath.getName}#${st.getLen}#${st.getModificationTime};")
    java.security.MessageDigest.getInstance("MD5")
      .digest(listing.mkString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** md5 hex digest — the key material for family/gen names. */
  private def digest(parts: String*): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("#").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
