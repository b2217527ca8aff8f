package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BpeTrain, Dedup, Multimodal, QualityModel, Similarity}
import graft.sources.{InvertedIndex, RollupStore, Scratch}

/** The scratch-root contract: every engine-managed artifact (memoized
  * indexes, parked intermediates) must land under the configurable
  * shared root so a multi-node deployment can point it at HDFS/S3/NFS
  * — r13 wrote parks to the driver-local tmpdir unconditionally, which
  * scatters executor-written parquet across node-local disks.
  */
class ScratchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("scratch root defaults to tmpdir and follows spark.graft.scratch.dir") {
    assert(Scratch.root(spark) == sys.props("java.io.tmpdir"))
    val alt = java.nio.file.Files.createTempDirectory("graft-scratch-alt").toString
    spark.conf.set(Scratch.confKey, alt)
    try {
      assert(Scratch.root(spark) == alt)
      assert(Scratch.path(spark, "x") == s"$alt/x")
    } finally spark.conf.unset(Scratch.confKey)
    assert(Scratch.root(spark) == sys.props("java.io.tmpdir"))
  }

  test("a memoized index build lands under the configured scratch root") {
    val alt = java.nio.file.Files.createTempDirectory("graft-scratch-idx").toString
    spark.conf.set(Scratch.confKey, alt)
    try {
      val path = graft.operators.Similarity.ensureIvfIndex(spark, TestSpark.sf)
      assert(path.startsWith(alt), s"$path not under $alt")
      assert(new java.io.File(s"$path/_COMPLETE").exists())
      assert(new java.io.File(s"$path/cells").exists())
    } finally spark.conf.unset(Scratch.confKey)
  }

  // every memoized artifact goes through Scratch.ensure: under a fresh
  // root, the first call builds exactly one artifact there and the
  // second call builds nothing
  private val builders: Seq[(String, () => Any)] = Seq(
    "ensureIndex" -> (() => InvertedIndex.ensureIndex(spark, TestSpark.sf)),
    "ensureReverseIndex" -> (() => InvertedIndex.ensureReverseIndex(spark, TestSpark.sf)),
    "ensureMediaTable" -> (() => Multimodal.ensureMediaTable(spark, TestSpark.sf)),
    "qualityModel" -> (() => QualityModel.qualityModel(spark, TestSpark.sf)),
    "ensureIvfIndex" -> (() => Similarity.ensureIvfIndex(spark, TestSpark.sf)),
    "ensureRollup" -> (() => RollupStore.ensureRollup(spark, TestSpark.sf)),
    "ensureCanonical" -> (() => Dedup.ensureCanonical(spark, TestSpark.sf)),
    "learnMerges" -> (() => BpeTrain.learnMerges(spark, TestSpark.sf)),
    "dedupCandidateAudit" -> (() => Dedup.dedupCandidateAudit(spark, TestSpark.sf)),
    "candidateStats" -> (() => Dedup.candidateStats(spark, TestSpark.sf)))

  test("every memoized builder builds once under the scratch root and is counted") {
    val failures = builders.flatMap { case (name, build) =>
      val alt = java.nio.file.Files.createTempDirectory(s"graft-scratch-$name").toFile
      spark.conf.set(Scratch.confKey, alt.toString)
      try {
        val b0 = Scratch.buildCount.get
        build()
        val first = Scratch.buildCount.get - b0
        val artifacts = alt.listFiles().toSeq
        build()
        val second = Scratch.buildCount.get - b0 - first
        if (first == 1 && second == 0 && artifacts.size == 1 &&
            new java.io.File(artifacts.head, "_COMPLETE").exists()) None
        else Some(s"$name: builds $first then $second, artifacts under the root: " +
          artifacts.map(_.getName).mkString("[", ", ", "]"))
      } finally spark.conf.unset(Scratch.confKey)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
