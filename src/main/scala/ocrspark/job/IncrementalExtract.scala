package ocrspark.job

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import ocrspark.lake.LakeTable

/** Resume-aware incremental extraction (north rule: "resumes from the
  * last committed snapshot without recomputing finished partitions").
  *
  * Mechanics (SURVEY.md §2.3, §2.8, §4 O12):
  *   1. input partitions = url-hash buckets;
  *   2. drop the input buckets the current snapshot already lists (a
  *      plain `isin` filter on the bucket column — the committed set is
  *      a few ints read from the manifest, so no join is needed);
  *   3. extract only the remaining buckets;
  *   4. stage files under data/snap-(next)/bucket=N via one
  *      `rebalance(bucket)` and partitionBy, observing the stage
  *      counters and per-bucket row counts on the write itself (no
  *      re-read). AQE sizes the rebalance from the bytes the map side
  *      produced: a bucket below
  *      `spark.sql.adaptive.advisoryPartitionSizeInBytes` is one file,
  *      a larger one splits at map-output boundaries. With AQE off
  *      Spark drops the hint and the write runs unshuffled: the same
  *      rows, per-bucket counts and counters, only more files. The
  *      write goes through `LakeTable.LocalFs`, which sets each file's
  *      and directory's permission bits in-process (no `chmod` fork);
  *   5. commit the manifest — buckets and counters together — and flip
  *      the _current pointer atomically.
  * A crash before (5) leaves staged files invisible to readers; rerun
  * re-stages only uncommitted buckets. Every readable snapshot carries
  * its counters. Re-running a fully committed table is a no-op
  * (idempotence).
  */
object IncrementalExtract {

  case class Summary(snapshotId: Long, bucketsWritten: Int,
                     docsProcessed: Long, skippedBuckets: Int,
                     noop: Boolean)

  /** Row count per bucket id, as an array indexed by bucket. */
  private class BucketDocs(nBuckets: Int) extends Aggregator[Int, Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](nBuckets)
    def reduce(b: Array[Long], bucket: Int): Array[Long] = { b(bucket) += 1; b }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < nBuckets) { x(i) += y(i); i += 1 }
      x
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  def run(spark: SparkSession, pages: DataFrame, table: LakeTable): Summary = {
    // a table's bucket count is fixed by the buckets its manifest lists
    val nBuckets = ExtractJob.DefaultBuckets
    val committed = table.committedBuckets
    val bucketed = pages.withColumn("bucket", ExtractJob.bucketCol(nBuckets))
    val todo =
      if (committed.isEmpty) bucketed
      else bucketed.filter(!col("bucket").isin(committed.toSeq: _*))

    val nextId = table.nextSnapshotId
    val staging = table.stagingDir(nextId)
    val observed = Observation()
    val bucketDocs = udaf(new BucketDocs(nBuckets), Encoders.scalaInt)
    // Step 4's one shuffle: a rebalance on `bucket`, which AQE sizes
    // from the map output bytes it measures (the advisory partition
    // size is the deployment's). Extraction runs map-side before it, so
    // only the extracted output (≪ raw html) crosses it.
    ExtractJob.run(todo, nBuckets)
      .hint("rebalance", col("bucket"))
      .observe(observed, ExtractJob.counters.head,
        ExtractJob.counters.tail :+ bucketDocs(col("bucket")).as("bucket_docs"): _*)
      .write.options(LakeTable.LocalFs.options).mode("overwrite")
      .partitionBy("bucket").parquet(staging)

    val staged = LakeTable.stagedEntries(staging)
    if (staged.isEmpty) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
      return Summary(table.currentSnapshotId.getOrElse(0L), 0, 0L,
        committed.size, noop = true)
    }
    val m = observed.get
    val docs = m("bucket_docs").asInstanceOf[scala.collection.Seq[Long]]
    val entries = staged.map { case (b, files) =>
      table.BucketEntry(b, files.map(_.getAbsolutePath), docs(b),
        files.map(_.length()).sum)
    }
    val counters = (m - "bucket_docs").toSeq.sortBy(_._1)
      .map { case (k, v) => k -> v.asInstanceOf[Long] } ++ Seq(
      "buckets_written" -> entries.size.toLong,
      "buckets_skipped" -> committed.size.toLong)
    val snap = table.commit(entries, Map("extract" -> counters))
    Summary(snap, entries.size, entries.map(_.nDocs).sum, committed.size,
      noop = false)
  }
}
