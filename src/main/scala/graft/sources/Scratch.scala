package graft.sources

import org.apache.spark.sql.SparkSession

/** Resolution point for every engine-managed scratch artifact: the
  * memoized index builds (IVF / PQ / NN-graph / inverted index /
  * rollup / media / canonical-labels) and the parked corpus-sized
  * intermediates (Dedup.parkTemp / ensurePark).
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

  /** Build-once memoization with generation cleanup — the ONE copy of
    * the marker dance every memoized artifact (index, park, media
    * table) previously re-implemented. The artifact lives at
    * `<root>/<family>-<gen>`:
    *
    *  - `family` is stable for the LOGICAL artifact: operator + layout
    *    version + a digest of the data dir (the dir digest keeps
    *    sf0.001/sf0.01/sf0.1 artifacts from sweeping each other);
    *  - `gen` encodes everything that invalidates it: the data
    *    fingerprint (file listing digest) and any derived knobs.
    *
    * First call per (family, gen) pays `build(dir)`; the `_COMPLETE`
    * marker is written LAST so a crashed build is rebuilt, never read.
    * A fresh build first deletes the family's SUPERSEDED generations —
    * they belong to regenerated data, and without the sweep every
    * in-place regeneration would leak a corpus-sized artifact on the
    * shared scratch root forever. Lifetime contract: frames read from
    * a generation must be drained before its source data regenerates
    * (the parkTemp rule — every caller consumes within one query
    * invocation).
    */
  def ensure(spark: SparkSession, family: String, gen: String)
            (build: String => Unit): String = {
    val dir = path(spark, s"$family-$gen")
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_COMPLETE")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      val rootP = new org.apache.hadoop.fs.Path(root(spark))
      scala.util.Try {
        fs.listStatus(rootP)
          .filter(st => st.getPath.getName.startsWith(s"$family-") &&
            st.getPath.getName != s"$family-$gen")
          .foreach(st => fs.delete(st.getPath, true))
      }
      build(dir)
      fs.create(marker, true).close()
      buildCount.incrementAndGet()
    }
    dir
  }

  /** md5 hex digest — the key material for family/gen names. */
  def digest(parts: String*): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("#").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
