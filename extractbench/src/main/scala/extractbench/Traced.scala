package extractbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.extractbench.ListenerBus
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import ocrspark.job.{Extract, ExtractJob, IncrementalExtract}
import ocrspark.lake.LakeTable

/** The traced run: per-layer metrics from spans around calls into each
  * layer's public functions and from Spark task metrics. All `us_per_doc`
  * figures are core-microseconds per workload document: wall time times
  * the cores in use, divided by the documents. End-to-end metrics are
  * never taken from this run.
  */
final class Traced(b: Bench, pages: DataFrame, exp: Expected) {
  import Bench.{median, timed}

  val tracer = new Tracer
  private val listener = new TaskListener
  b.spark.sparkContext.addSparkListener(listener)

  private val nproc = b.nproc
  private val docs = exp.digest.rows.toDouble
  private val out = ArrayBuffer.empty[Metric]
  private def put(name: String, value: Double, unit: String): Unit =
    out += Metric(name, value, unit)

  /** Layer passes are repeated this many times; medians are reported. */
  private val Reps = 3
  /** Pairs of untraced and traced batch passes. */
  private val OverheadPairs = 4
  /** Kernel sample: every 7th document. 7 is coprime to every residue
    * the generators key on, so the sample keeps the workload's mix. */
  private val SampleStride = 7

  private def coreUsPerDoc(seconds: Double): Double = seconds * nproc * 1e6 / docs

  private def tasks[T](body: => T): (T, Seq[TaskSample]) = {
    listener.drain()
    listener.recording = true
    try {
      val r = body
      ListenerBus.waitUntilEmpty(b.spark.sparkContext)
      (r, listener.drain())
    } finally listener.recording = false
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def run(): Seq[Metric] = {
    put("reference.run_s", median((1 to 5).map(_ => b.reference.run())), "s")
    extractJob()
    layers()
    kernel()
    lake()
    b.gc()
    put("jvm.heap_after_gc_mb",
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0, "MiB")
    accounting()
    out.toSeq
  }

  private val values = scala.collection.mutable.Map.empty[String, Double]
  private def keep(name: String, value: Double, unit: String): Unit = {
    values(name) = value
    put(name, value, unit)
  }

  /** `ExtractJob.run` passes: untraced and traced in turn (the tracing
    * overhead), planning apart from execution, task metrics. */
  private def extractJob(): Unit = {
    val untraced, traced, planMs, gcPerPass, skew = ArrayBuffer.empty[Double]
    val allTasks = ArrayBuffer.empty[TaskSample]
    def untracedPass(): Unit = {
      b.gc()
      val g0 = gcMs
      b.batchPass("pass", pages, exp).foreach { c =>
        untraced += docs / c.wallS
        gcPerPass += (gcMs - g0) / 1000.0
      }
    }
    def tracedPassOp(): Unit = {
      b.gc()
      tracer.newRun()
      val (r, ts) = tasks(b.checks.op("traced-pass")(timed(tracedPass(planMs))) {
        case (_, d) => if (d == exp.digest) Nil else Seq(s"digest $d, expected ${exp.digest}")
      })
      r.foreach { case (s, _) =>
        traced += docs / s
        allTasks ++= ts
        // the map stage is the one that writes the shuffle
        val byStage = ts.groupBy(_.stageId)
        if (byStage.nonEmpty) {
          val map = byStage.values.maxBy(_.map(_.shuffleWriteBytes).sum)
          val d = map.map(_.durationMs.toDouble)
          skew += d.max / math.max(1.0, median(d))
        }
      }
    }
    // untraced and traced in turn, alternating which goes first, so
    // neither side is always the warmer one
    (1 to OverheadPairs).foreach { i =>
      if (i % 2 == 1) { untracedPass(); tracedPassOp() } else { tracedPassOp(); untracedPass() }
    }
    val runS = docs / median(traced.toSeq)
    keep("ExtractJob.run.us_per_doc", coreUsPerDoc(runS), "us/doc")
    put("ExtractJob.plan_ms", median(planMs.toSeq), "ms")
    put("ExtractJob.task_skew", median(skew.toSeq), "ratio")
    val runMs = allTasks.map(_.runMs).sum.toDouble
    put("ExtractJob.cpu_frac", allTasks.map(_.cpuNs).sum / 1e6 / runMs, "ratio")
    put("ExtractJob.gc_frac", allTasks.map(_.gcMs).sum / runMs, "ratio")
    put("ExtractJob.shuffle_bytes_per_doc",
      allTasks.map(_.shuffleWriteBytes).sum / (docs * traced.size), "B/doc")
    put("jvm.gc_s_per_pass", median(gcPerPass.toSeq), "s")
    val (u, t) = (median(untraced.toSeq), median(traced.toSeq))
    put("trace.docs_per_s_untraced", u, "docs/s")
    put("trace.docs_per_s_traced", t, "docs/s")
    put("trace.overhead_frac", u / t - 1, "ratio")
  }

  /** `ExtractJob.run` with a full-output digest, planning timed apart
    * from execution. */
  private def tracedPass(planMs: ArrayBuffer[Double]): Digest =
    tracer.span("ExtractJob.run") {
      val (p, q) = timed(tracer.span("ExtractJob.plan") {
        val q = Digest.query(ExtractJob.run(pages))
        q.queryExecution.executedPlan
        q
      })
      planMs += p * 1000
      tracer.span("ExtractJob.execute")(Digest.fromRow(q.collect()(0)))
    }

  /** Forced projections that stop short of `ExtractJob.run`: the scan
    * alone, the scan through an identity UDF of `extractUdf`'s shape,
    * and the `extractUdf` projection without the exchange. */
  private def layers(): Unit = {
    val identityUdf = udf((html: Array[Byte], text: String, lang: String, forceOcr: Boolean) =>
      Extract.DocResult(text, Map.empty, lang, if (html == null) 0 else html.length,
        0.0, 0, 0, "identity", 0.0, forceOcr, has_images = false, 0, 0.0, "", null))
    def project(f: (Column, Column, Column, Column) => Column): DataFrame =
      pages.withColumn("r", f(col("html"), col("text"), col("lang"), lit(false)))
        .select(col("url"), col("warc_ts"), col("lang"),
          ExtractJob.bucketCol(ExtractJob.DefaultBuckets).as("bucket"),
          col("r.text").as("text"), col("r.fields").as("fields"),
          col("r.method").as("method"), col("r.pages").as("pages"),
          col("r.confidence").as("confidence"),
          col("r.processed_pages").as("processed_pages"),
          col("r.low_confidence_pages").as("low_confidence_pages"),
          col("r.route").as("route"), col("r.error").as("error"))

    def passes[T](name: String, expect: Option[T])(body: => T): Double = {
      var first: Option[T] = expect
      val ss = ArrayBuffer.empty[Double]
      (1 to Reps).foreach { _ =>
        b.gc()
        b.checks.op(name)(tracer.span(name)(timed(body)))(r =>
          first match {
            case Some(f) if f != r._2 => Seq(s"$name gave ${r._2}, expected $f")
            case _ => first = Some(r._2); Nil
          }).foreach(ss += _._1)
      }
      median(ss.toSeq)
    }

    val scanS = passes("scan", None)(b.scan(pages))
    keep("scan.us_per_doc", coreUsPerDoc(scanS), "us/doc")
    put("scan.bytes_per_doc", b.scan(pages)._2 / docs, "B/doc")
    val idS = passes("ExtractJob.boundary", None)(Digest.ofSpark(project(identityUdf(_, _, _, _))))
    keep("ExtractJob.boundary.us_per_doc", coreUsPerDoc(idS - scanS), "us/doc")
    val mapS = passes("ExtractJob.udf_map", Some(exp.digest))(
      Digest.ofSpark(project(ExtractJob.extractUdf(_, _, _, _))))
    put("ExtractJob.udf_map.us_per_doc", coreUsPerDoc(mapS), "us/doc")
    keep("ExtractJob.exchange.us_per_doc",
      values("ExtractJob.run.us_per_doc") - coreUsPerDoc(mapS), "us/doc")
  }

  /** Direct kernel calls over every 7th document: one thread, `nproc`
    * threads, and the traced replica on one thread. */
  private def kernel(): Unit = {
    val sample = (0 until b.w.docs by SampleStride).map(i => b.w.row(b.seed, i)).toVector
    val n = sample.size
    // one thread, untraced; the second of two passes is kept
    var results: Vector[Extract.DocResult] = Vector.empty
    val perMethod = scala.collection.mutable.Map.empty[String, (Long, Long)]
    var singleNs = 0L
    (1 to 2).foreach { _ =>
      perMethod.clear()
      singleNs = 0L
      results = sample.map { p =>
        val t0 = System.nanoTime()
        val r = Extract.extractDocument(p.html, p.text, p.lang)
        val dt = System.nanoTime() - t0
        singleNs += dt
        val (ns, c) = perMethod.getOrElse(r.method, (0L, 0L))
        perMethod(r.method) = (ns + dt, c + 1)
        r
      }
    }
    val single = singleNs / 1e3 / n
    keep("Extract.us_per_doc", single, "us/doc")
    Digest.Methods.foreach { m =>
      val (ns, c) = perMethod.getOrElse(m, (0L, 0L))
      put(s"Extract.$m.us_per_doc", if (c == 0) 0.0 else ns / 1e3 / c, "us/doc")
      put(s"Extract.$m.docs", c.toDouble, "docs")
    }
    // nproc threads: core-time per doc
    val par = median((1 to 2).map { _ =>
      timed(Kernel.parallel(n, nproc)(())((_, i) => {
        val p = sample(i); Extract.extractDocument(p.html, p.text, p.lang); ()
      }))._1
    }) * nproc * 1e6 / n
    keep("Extract.us_per_doc_par", par, "us/doc")
    put("Extract.scaling_eff", single / par, "ratio")

    // traced replica, checked document by document against the engine;
    // like the untimed pass, the second of two passes is kept
    var counts = new KernelCounts
    val kernelRuns = scala.collection.mutable.Set.empty[Long]
    (1 to 2).foreach { _ =>
      counts = new KernelCounts
      kernelRuns.clear()
      val replica = new Kernel.Replica(tracer, counts)
      b.checks.op("kernel-replica")(sample.indices.count { i =>
        kernelRuns += tracer.newRun()
        val p = sample(i)
        replica.extract(p.html, p.text, p.lang) != results(i)
      })(bad => if (bad == 0) Nil else Seq(s"$bad of $n replica results differ"))
    }
    val self = tracer.selfTimes(tracer.spans.filter(s => kernelRuns.contains(s.run)))
    def selfUs(name: String): Double = self.get(name).map(_._1 / 1e3 / n).getOrElse(0.0)
    val stages = Seq("PdfExtract.parse", "Analyze.analyzePdf", "HtmlExtract.extractMain",
      "Normalize.normalize", "Fields.extract", "PageAssembly.assemble")
    put("PdfExtract.parse.us_per_doc", selfUs("PdfExtract.parse"), "us/doc")
    put("Analyze.analyzePdf.us_per_doc", selfUs("Analyze.analyzePdf"), "us/doc")
    put("HtmlExtract.extractMain.us_per_doc", selfUs("HtmlExtract.extractMain"), "us/doc")
    put("Fields.extract.us_per_doc", selfUs("Fields.extract"), "us/doc")
    put("PageAssembly.self.us_per_doc", selfUs("PageAssembly.assemble"), "us/doc")
    put("Extract.self.us_per_doc", selfUs("Extract.extractDocument"), "us/doc")
    val normCalls = math.max(1L, counts.normalizeCalls).toDouble
    put("Normalize.normalize.us_per_call",
      self.get("Normalize.normalize").map(_._1 / 1e3 / normCalls).getOrElse(0.0), "us/call")
    put("Normalize.calls_per_doc", counts.normalizeCalls.toDouble / n, "calls/doc")
    put("Normalize.chars_per_call", counts.normalizeChars / normCalls, "chars/call")
    val pdfDocs = math.max(1L, counts.pdfDocs - counts.pdfParseErrors).toDouble
    put("PdfExtract.pages_per_doc", counts.pdfPages / pdfDocs, "pages/doc")
    put("PdfExtract.bytes_per_doc", counts.pdfBytes / math.max(1L, counts.pdfDocs).toDouble, "B/doc")
    put("PdfExtract.parse_errors", counts.pdfParseErrors.toDouble, "docs")
    put("HtmlExtract.chars_out_per_doc",
      counts.htmlCharsOut / math.max(1L, counts.htmlDocs).toDouble, "chars/doc")
    keep("kernel.explained_frac", stages.map(selfUs).sum / single, "ratio")
  }

  /** Two lake sequences: `IncrementalExtract.run` itself, then the same
    * steps spelled out with `LakeTable`'s public calls, each in a span. */
  private def lake(): Unit = {
    val nb = ExtractJob.DefaultBuckets
    val runs = ArrayBuffer.empty[Double]
    val seqA = b.lakeSequence(pages, exp, (t, p) => {
      tracer.newRun()
      val (s, r) = timed(tracer.span("IncrementalExtract.run")(IncrementalExtract.run(b.spark, p, t)))
      if (!r.noop) runs += s
      r
    })
    seqA.foreach { l =>
      put("IncrementalExtract.run_s", runs.sum, "s")
      // every step's new buckets together are the lake buckets
      put("IncrementalExtract.recompute_frac",
        l.processed.sum.toDouble / exp.docsIn(0, Bench.LakeBuckets), "ratio")
      put("IncrementalExtract.skipped_buckets", l.skipped.sum.toDouble, "buckets")
    }

    val commitMs, metricsMs, stageUs = ArrayBuffer.empty[Double]
    val seqB = b.lakeSequence(pages, exp, (table, p) => {
      tracer.newRun()
      replicaStep(table, p, nb, commitMs, metricsMs, stageUs)
    })
    seqB.foreach { l =>
      put("LakeTable.stage_write.us_per_doc", stageUs.sum / l.docs, "us/doc")
      put("LakeTable.commit_ms", median(commitMs.toSeq), "ms")
      put("LakeTable.metrics_ms", median(metricsMs.toSeq), "ms")
      put("LakeTable.files_per_bucket", l.files.toDouble / l.buckets, "files/bucket")
      put("LakeTable.manifest_bytes", l.manifestBytes.toDouble, "B")
    }
  }

  /** `IncrementalExtract.run`'s steps, one span per layer call. */
  private def replicaStep(table: LakeTable, pages: DataFrame, nb: Int,
                          commitMs: ArrayBuffer[Double], metricsMs: ArrayBuffer[Double],
                          stageUs: ArrayBuffer[Double]): IncrementalExtract.Summary = {
    val spark = b.spark
    import spark.implicits._
    val committed = table.committedBuckets
    val bucketed = pages.withColumn("bucket", ExtractJob.bucketCol(nb))
    val todo =
      if (committed.isEmpty) bucketed
      else bucketed.join(broadcast(committed.toSeq.toDF("bucket")), Seq("bucket"), "left_anti")
    val nextId = table.nextSnapshotId
    val staging = table.stagingDir(nextId)
    val (ws, _) = timed(tracer.span("LakeTable.stage_write")(
      ExtractJob.run(todo, nb).write.mode("overwrite").partitionBy("bucket").parquet(staging)))
    val staged = LakeTable.stagedEntries(staging)
    if (staged.isEmpty) {
      FileUtils.deleteQuietly(new File(staging))
      return IncrementalExtract.Summary(table.currentSnapshotId.getOrElse(0L), 0, 0L,
        committed.size, noop = true)
    }
    stageUs += ws * nproc * 1e6
    val counts = tracer.span("LakeTable.stats")(spark.read.parquet(staging)
      .groupBy(col("bucket")).count().collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("count")).toMap)
    val entries = staged.map { case (bk, files) =>
      table.BucketEntry(bk, files.map(_.getAbsolutePath), counts.getOrElse(bk, 0L),
        files.map(_.length()).sum)
    }
    val (cs, snap) = timed(tracer.span("LakeTable.commit")(table.commit(entries)))
    commitMs += cs * 1000
    val (ms, _) = timed(tracer.span("LakeTable.writeMetrics") {
      val m = ExtractJob.metrics(spark.read.parquet(staging)).collect()(0)
      table.writeMetrics(spark, snap, "extract", Seq("docs_in", "successful",
        "failed", "route_text", "route_hybrid", "route_ocr", "route_html",
        "total_pages").map(k => k -> m.getAs[Long](k)) ++ Seq(
        "buckets_written" -> entries.size.toLong,
        "buckets_skipped" -> committed.size.toLong))
    })
    metricsMs += ms * 1000
    IncrementalExtract.Summary(snap, entries.size, entries.map(_.nDocs).sum,
      committed.size, noop = false)
  }

  /** How much of a document's core-time the layers account for. The
    * remainder is reported as unexplained, not folded into a layer. */
  private def accounting(): Unit = {
    val run = values("ExtractJob.run.us_per_doc")
    val sum = values("scan.us_per_doc") + values("ExtractJob.boundary.us_per_doc") +
      values("Extract.us_per_doc_par") + values("ExtractJob.exchange.us_per_doc")
    put("layers.explained_frac", sum / run, "ratio")
    put("layers.unexplained.us_per_doc", run - sum, "us/doc")
  }
}
