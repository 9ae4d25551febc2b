package ocrspark.job

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import ocrspark.SparkSuite
import ocrspark.lake.LakeTable

/** Skew handling evidence (SURVEY.md §4 O4-O5). The synthesized corpus
  * has a zipfian host distribution (top host ≈ 23% of traffic), so
  * bucketing hashes the url, not the host; the lake writer's
  * `rebalance(bucket)` lets AQE size each bucket's files from the bytes
  * it measures. */
class SkewSpec extends AnyFunSuite with SparkSuite {

  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  test("lake writer's rebalance: one file per small bucket, big buckets split") {
    import spark.implicits._
    val pages = Synth.pagesDF(spark, sfDir)
    val perBucket = pages.groupBy(ExtractJob.bucketCol(ExtractJob.DefaultBuckets))
      .count().as[(Int, Long)].collect().toMap
    /** Files per bucket of one commit of `pages`, which reads back as
      * the pages counted directly. */
    def commitFiles(): Map[Int, Int] = {
      val table = new LakeTable(Files.createTempDirectory(root, "lake").toString)
      IncrementalExtract.run(spark, pages, table)
      val buckets = table.currentSnapshot.get.buckets
      assert(table.read(spark).count() == perBucket.values.sum)
      assert(buckets.map(b => b.bucket -> b.nDocs).toMap == perBucket)
      buckets.map(b => b.bucket -> b.files.size).toMap
    }
    // every bucket is a few KB, far below the 64 MB default
    val files = commitFiles()
    assert(files.values.forall(_ == 1), s"a small bucket spans several files: $files")
    spark.conf.set(Advisory, "16k")
    val split = try commitFiles() finally spark.conf.unset(Advisory)
    assert(split.values.exists(_ > 1), s"no bucket split at a 16k advisory size: $split")
  }

  test("url-hash bucketing distributes rows evenly regardless of host skew") {
    val pages = Synth.pagesDF(spark, sfDir)
      .withColumn("bucket", ExtractJob.bucketCol(16))
    val counts = pages.groupBy(col("bucket")).count()
      .agg(max(col("count")).as("mx"), min(col("count")).as("mn")).collect()(0)
    // hash-uniform: max/min within a generous band at n=500
    assert(counts.getLong(0) < counts.getLong(1) * 4,
      s"bucket imbalance: max=${counts.getLong(0)} min=${counts.getLong(1)}")
  }
}
