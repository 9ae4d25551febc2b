package extractbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import ocrspark.job.{ExtractJob, IncrementalExtract}
import ocrspark.lake.LakeTable

/** Counts operations and their failures, and logs each with its
  * duration to stderr. An op is one batch pass, one commit, the no-op
  * rerun or the read-back (and, in the traced run, each layer pass); it
  * fails if it throws or if its output does not match what the set-up
  * computed. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def op[T](name: String)(body: => T)(check: T => Seq[String]): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val errs =
      try {
        val r = body
        val e = check(r)
        System.err.println(f"[extractbench] $name%-22s ${(System.nanoTime() - t0) / 1e9}%.3f s")
        if (e.isEmpty) return Some(r)
        e
      } catch { case e: Exception => Seq(e.toString) }
    failed += 1
    failures += s"$name: ${errs.mkString("; ")}"
    System.err.println(s"[extractbench] FAILED $name: ${errs.mkString("; ")}")
    None
  }
}

/** What a correct run must produce, computed once at setup from direct
  * `Extract.extractDocument` calls over the generated rows. */
final class Expected(buckets: IndexedSeq[Digest.Acc]) {
  /** Digest of the rows whose bucket is in [lo, hi). */
  def digestIn(lo: Int, hi: Int): Digest = {
    val acc = new Digest.Acc
    buckets.slice(lo, hi).foreach(acc.merge)
    acc.result
  }
  val digest: Digest = digestIn(0, buckets.length)
  def docsIn(lo: Int, hi: Int): Long = buckets.slice(lo, hi).map(_.rows).sum
  def bucketsIn(lo: Int, hi: Int): Int = buckets.slice(lo, hi).count(_.rows > 0)
}

/** Wall seconds of one operation and the mean of the [[Reference]] runs
  * just before and just after it (NaN when the run was not probing). */
final case class Cost(wallS: Double, refS: Double) {
  /** The operation's time in reference units. */
  def inRef: Double = wallS / refS
}

/** Costs of one lake sequence: the workload's bucket-range commits into
  * a fresh table, no-op reruns and full read-backs. */
final case class LakeRun(commits: Seq[Cost], docs: Long, noops: Seq[Cost],
                         reads: Seq[Cost], bytes: Long, files: Int,
                         buckets: Int, manifestBytes: Long,
                         processed: Seq[Long], skipped: Seq[Int])

object Bench {
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** A lake sequence commits the pages of buckets [0, LakeBuckets) of
    * `ExtractJob.DefaultBuckets`: a quarter of the table. */
  val LakeBuckets = 16
  val FreshRefNs = 50L * 1000 * 1000
}

/** The engine driven through its public entry points on one workload. */
final class Bench(val spark: SparkSession, val w: Workload, val seed: Long,
                  val runDir: File, val nproc: Int, val reference: Reference) {
  import Bench._

  val checks = new Checks
  /** Whether timed operations run the reference next to them. */
  var probing = false
  /** The last reference run: its seconds and when it ended. */
  private var lastRef: Option[(Double, Long)] = None

  /** Times `body`; while [[probing]], with a reference run on each side
    * of it. A reference that ended less than [[Bench.FreshRefNs]] before
    * is reused, so consecutive operations share the one between them. */
  def measured[T](body: => T): (Cost, T) = {
    if (!probing) {
      val (s, r) = timed(body)
      return (Cost(s, Double.NaN), r)
    }
    val before = lastRef.filter(System.nanoTime() - _._2 < FreshRefNs)
      .fold(reference.run())(_._1)
    val (s, r) = timed(body)
    val after = reference.run()
    lastRef = Some((after, System.nanoTime()))
    (Cost(s, (before + after) / 2), r)
  }

  private val nb = ExtractJob.DefaultBuckets
  private var lakeSeq = 0

  /** Write the workload's pages table as parquet under `dir`. */
  def materialize(dir: File): Unit = {
    import spark.implicits._
    val (wl, sd, n) = (w, seed, w.docs)
    val files = nproc * 4
    spark.range(0, n.toLong, 1, files).as[Long]
      .mapPartitions(_.map(i => wl.row(sd, i.toInt)))
      .write.mode("overwrite").parquet(dir.getPath)
  }

  /** Expected per-bucket digests from direct calls on `nproc` threads. */
  def expected(): Expected = {
    val states = Kernel.parallel(w.docs, nproc)(Array.fill(nb)(new Digest.Acc)) { (s, i) =>
      val p = w.row(seed, i)
      val r = ocrspark.job.Extract.extractDocument(p.html, p.text, p.lang)
      val b = Digest.bucketOf(p.url, nb)
      s(b).add(Digest.rowHash(p, b, r), r.method)
    }
    new Expected((0 until nb).map { b =>
      val acc = new Digest.Acc
      states.foreach(s => acc.merge(s(b)))
      acc
    })
  }

  private def digestCheck(what: String, exp: Digest)(d: Digest): Seq[String] =
    if (d == exp) Nil else Seq(s"$what digest $d, expected $exp")

  /** One batch `ExtractJob.run` pass with a full-output digest; returns
    * its cost. */
  def batchPass(name: String, pages: DataFrame, exp: Expected): Option[Cost] =
    checks.op(name)(measured(Digest.ofSpark(ExtractJob.run(pages))))(r =>
      digestCheck(name, exp.digest)(r._2)).map(_._1)

  /** Commits the pages of the lake buckets into a fresh table in
    * `steps` bucket ranges, each step re-submitting the
    * buckets already committed; then re-submits them all (`reps`
    * no-ops) and reads the table back (`reps` times). `lakeStep(table, pages)`
    * is one commit. */
  def lakeSequence(allPages: DataFrame, exp: Expected,
                   lakeStep: (LakeTable, DataFrame) => IncrementalExtract.Summary,
                   steps: Int = w.lakeSteps, reps: Int = 1): Option[LakeRun] = {
    val top = LakeBuckets
    val pages = allPages.filter(ExtractJob.bucketCol(nb) < top)
    lakeSeq += 1
    val root = new File(runDir, s"lake-$lakeSeq")
    val table = new LakeTable(root.getPath)
    try {
      val commits = ArrayBuffer.empty[(Cost, IncrementalExtract.Summary)]
      var ok = true
      var k = 1
      while (ok && k <= steps) {
        val lo = top * (k - 1) / steps
        val hi = top * k / steps
        val step = k
        val sub = pages.filter(ExtractJob.bucketCol(nb) < hi)
        val r = checks.op(s"commit-$k")(measured(lakeStep(table, sub))) { case (_, s) =>
          Seq(
            (!s.noop, s"commit $step was a no-op"),
            (s.snapshotId == step, s"snapshot ${s.snapshotId}, expected $step"),
            (s.docsProcessed == exp.docsIn(lo, hi),
              s"processed ${s.docsProcessed} docs, expected ${exp.docsIn(lo, hi)}"),
            (s.bucketsWritten == exp.bucketsIn(lo, hi),
              s"wrote ${s.bucketsWritten} buckets, expected ${exp.bucketsIn(lo, hi)}"),
            (s.skippedBuckets == exp.bucketsIn(0, lo),
              s"skipped ${s.skippedBuckets} buckets, expected ${exp.bucketsIn(0, lo)}"))
            .collect { case (false, msg) => msg }
        }
        r.foreach(commits += _)
        ok = r.isDefined
        k += 1
      }
      if (!ok) return None
      val noops = (1 to reps).flatMap(_ => checks.op("noop")(measured(lakeStep(table, pages))) {
        case (_, s) =>
          Seq((s.noop && s.bucketsWritten == 0, s"no-op wrote ${s.bucketsWritten} buckets"),
            (table.currentSnapshotId.contains(steps.toLong),
              s"snapshot ${table.currentSnapshotId} after the no-op, expected $steps"))
            .collect { case (false, msg) => msg }
      })
      val noop = if (noops.size == reps) Some(noops.map(_._1)) else None
      val snap = table.currentSnapshot
      // `LakeTable.read` drops the partition column; it is a function of url
      val reads = (1 to reps).flatMap(_ => checks.op("read-back")(measured(Digest.ofSpark(
          table.read(spark).withColumn("bucket", ExtractJob.bucketCol(nb))))) { case (_, d) =>
        digestCheck("read-back", exp.digestIn(0, top))(d) ++
          (if (snap.map(_.buckets.map(_.nDocs).sum).contains(exp.docsIn(0, top))) Nil
           else Seq(s"committed docs ${snap.map(_.buckets.map(_.nDocs).sum)}, " +
             s"expected ${exp.docsIn(0, top)}"))
      })
      val read = if (reads.size == reps) Some(reads.map(_._1)) else None
      for (n <- noop; rd <- read; s <- snap) yield {
        val manifest = new File(new File(root, "snapshots"), s"snapshot-${s.id}.json")
        LakeRun(commits.map(_._1).toSeq, s.buckets.map(_.nDocs).sum, n, rd,
          s.buckets.map(_.nBytes).sum, s.buckets.map(_.files.size).sum,
          s.buckets.size, manifest.length(),
          commits.map(_._2.docsProcessed).toSeq, commits.map(_._2.skippedBuckets).toSeq)
      }
    } finally FileUtils.deleteQuietly(root)
  }

  def incremental(table: LakeTable, pages: DataFrame): IncrementalExtract.Summary =
    IncrementalExtract.run(spark, pages, table)

  def gc(): Unit = System.gc()

  def pagesDf(dir: File): DataFrame = spark.read.parquet(dir.getPath)

  /** Decode-only forced scan of the kernel's input columns; returns
    * their hash and their total bytes. */
  def scan(pages: DataFrame): (Long, Long) = {
    val r = pages.agg(sum(pmod(xxhash64(col("html"), col("text"), col("lang")), lit(Digest.P))),
      sum(coalesce(octet_length(col("html")), lit(0)) +
        coalesce(octet_length(col("text")), lit(0)) +
        coalesce(octet_length(col("lang")), lit(0)))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}
