package ocrspark.bench

/** One simulated executor: runs the extraction pipeline over its
  * file-shard of the pages table in its own JVM (own heap, own GC) —
  * the multi-executor unit [[ScalingBench]] launches concurrently.
  * Args: shardIdx cores deadlineEpochMs file1,file2,... (disjoint
  * parquet files — no redundant scan of other shards' data). Prints one
  * line: `SHARD <idx> <docs> <min seconds> <counted reps>`.
  *
  * Reps run until the deadline shared by all shards
  * ([[Measure.untilDeadline]]), and the min is taken over reps that
  * finished before it: a fixed rep count would let the slowest shard's
  * last reps run on an otherwise idle box, and min() would pick exactly
  * those least-contended reps. */
object ShardMain {
  def main(args: Array[String]): Unit = {
    val Array(shardIdx, cores, deadlineMs, fileList) = args
    val spark = Measure.session(cores.toInt)
    val shard = spark.read.parquet(fileList.split(","): _*)
    // e2e hashes text/method/confidence: xxhash64 rejects the `fields` map
    val r = Measure.untilDeadline(deadlineMs.toLong) {
      Measure.force(ocrspark.job.ExtractJob.run(shard), "text", "method", "confidence")
    }
    println(f"SHARD $shardIdx ${r.rows} ${r.min}%.3f ${r.seconds.size}")
    spark.stop()
  }
}
