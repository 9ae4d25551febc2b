package ocrspark.job

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import ocrspark.SparkSuite

/** Skew handling evidence (north rule: explicit salted repartitioning
  * for skewed hosts; SURVEY.md §4 O4-O5). The synthesized corpus has a
  * zipfian host distribution (top host ≈ 23% of traffic), so bucketing
  * hashes the url, not the host, and the lake writer salts each bucket
  * over a few tasks. */
class SkewSpec extends AnyFunSuite with SparkSuite {

  test("lake writer's (bucket, salt) repartition: a few staged files per bucket") {
    val table = new ocrspark.lake.LakeTable(root.resolve("lake").toString)
    IncrementalExtract.run(spark, Synth.pagesDF(spark, sfDir), table)
    val files = table.currentSnapshot.get.buckets.map(b => b.bucket -> b.files.size)
    // one task writes one file per bucket it holds: unsalted, each
    // bucket would sit in exactly one task and so one file
    assert(files.exists(_._2 > 1), s"no bucket spread over tasks: $files")
    val cap = math.min(IncrementalExtract.Salts,
      spark.sessionState.conf.numShufflePartitions)
    assert(files.forall(_._2 <= cap), s"a bucket exceeds $cap files: $files")
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
