package ocrspark.job

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import ocrspark.lake.LakeTable

/** Resume-aware incremental extraction (north rule: "resumes from the
  * last committed snapshot without recomputing finished partitions").
  *
  * Mechanics (SURVEY.md §2.3, §2.8, §4 O12):
  *   1. input partitions = url-hash buckets;
  *   2. LEFT ANTI join input buckets against the committed lineage of
  *      the current snapshot (broadcast — lineage is tiny);
  *   3. extract only the remaining buckets;
  *   4. stage files under data/snap-(next)/bucket=N via partitionBy;
  *   5. commit manifest + flip the _current pointer atomically.
  * A crash before (5) leaves staged files invisible to readers; rerun
  * re-stages only uncommitted buckets. Re-running a fully committed
  * table is a no-op (idempotence).
  */
object IncrementalExtract {

  case class Summary(snapshotId: Long, bucketsWritten: Int,
                     docsProcessed: Long, skippedBuckets: Int,
                     noop: Boolean)

  def run(spark: SparkSession, pages: DataFrame, table: LakeTable,
          nBuckets: Int = ExtractJob.DefaultBuckets): Summary = {
    val committed = table.committedBuckets
    val bucketed = pages.withColumn("bucket", ExtractJob.bucketCol(nBuckets))

    // resume anti-join: input buckets minus committed lineage buckets
    val todo =
      if (committed.isEmpty) bucketed
      else {
        import spark.implicits._
        val committedDf = committed.toSeq.toDF("bucket")
        bucketed.join(broadcast(committedDf), Seq("bucket"), "left_anti")
      }

    val nextId = table.nextSnapshotId
    val staging = table.stagingDir(nextId)
    val extracted = ExtractJob.run(todo, nBuckets)
    extracted.write.mode("overwrite").partitionBy("bucket").parquet(staging)

    val staged = LakeTable.stagedEntries(staging)
    if (staged.isEmpty) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
      return Summary(table.currentSnapshotId.getOrElse(0L), 0, 0L,
        committed.size, noop = true)
    }
    // The staged snapshot is read once, by one aggregate grouped by
    // bucket: its `docs_in` is the lineage row count, and its counters
    // summed over buckets are the stage's metrics (north rule: every
    // stage emits lineage rows plus counters). Column pruning keeps
    // text out of the scan; the schema of the DataFrame just written
    // spares a parquet schema-inference job.
    val perBucket = ExtractJob.metrics(
      spark.read.schema(extracted.schema).parquet(staging), col("bucket"))
    val rows = perBucket.collect()
    val counts = rows.map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("docs_in")).toMap
    val entries = staged.map { case (b, files) =>
      table.BucketEntry(b, files.map(_.getAbsolutePath),
        counts.getOrElse(b, 0L), files.map(_.length()).sum)
    }
    val snap = table.commit(entries)

    val counters = perBucket.schema.fields.toSeq
      .filter(_.dataType == LongType)
      .map(f => f.name -> rows.map(_.getAs[Long](f.name)).sum)
    table.writeMetrics(spark, snap, "extract", counters ++ Seq(
      "buckets_written" -> entries.size.toLong,
      "buckets_skipped" -> committed.size.toLong))

    Summary(snap, entries.size, entries.map(_.nDocs).sum, committed.size,
      noop = false)
  }
}
