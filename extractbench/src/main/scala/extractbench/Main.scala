package extractbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** One named value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload crawl_mix --seed 1 --seconds 10 --trace 0
  *      --run-dir <fresh dir> --result <file.json> [--spans <file.jsonl.gz>]
  *      [--commit <id>]
  * }}}
  *
  * Set-up (session start, generation and materialization of the pages
  * table, the expected digest from direct kernel calls, warm-up of the
  * primary operation) is timed as `setup_s`. With `--trace 0` the run then
  * measures batch passes and lake sequences, as many as `--seconds`
  * calls for, and reports the end-to-end metrics; with `--trace 1` it runs
  * the per-layer measurements of [[Traced]] instead. The result, with a
  * host fingerprint, is written to `--result`.
  */
object Main {

  /** Generation and materialization of the pages table are repeated
    * this many times; `setup_s` takes their median. */
  val SetupReps = 3
  /** Batch passes keep getting faster over their first runs (JIT and
    * codegen caches), so set-up runs this many before timing them. */
  val WarmupPasses = 2
  /** Reference runs at the start of set-up, before any is used. */
  val RefWarmup = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads.byName(arg("workload"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val runDir = new File(arg("run-dir"))
    val nproc = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    // The reference warms up first, while the JIT has nothing else queued,
    // so that it runs compiled from its first timed use.
    val reference = new Reference(nproc)
    val refWarmup = (1 to RefWarmup).map(_ => reference.run())
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("extractbench")
      // one reduce task per core: the stage after the exchange only
      // digests or writes, and every task writes a file per bucket
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val bench = new Bench(spark, w, seed, runDir, nproc, reference)
    val out = mutable.LinkedHashMap.empty[String, Metric]
    def put(m: Metric): Unit = out(m.name) = m
    val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
    var tracer: Option[Tracer] = None
    try {
      // ---- set-up ------------------------------------------------------
      val reps = (1 to SetupReps).map { r =>
        val dir = new File(runDir, s"pages-$r")
        (Bench.timed(bench.materialize(dir))._1, dir)
      }
      reps.init.foreach(r => FileUtils.deleteQuietly(r._2))
      val pages = bench.pagesDf(reps.last._2)
      val (expS, exp) = Bench.timed(bench.expected())
      // A cold lake sequence takes several times a warm one, so one runs
      // untimed, with the workload's steps (the later ones cover the
      // resume anti-join) and one no-op and read-back. Batch passes warm
      // up last, since switching between the two costs the first run
      // after it.
      val (warmS, _) = Bench.timed {
        bench.lakeSequence(pages, exp, bench.incremental)
        if (!w.lakePrimary)
          (1 to WarmupPasses).foreach(_ => bench.batchPass("warmup-pass", pages, exp))
      }
      val setupS = sessionS + Bench.median(reps.map(_._1)) + expS + warmS
      System.err.println("[extractbench] reference warm-up " +
        refWarmup.map(r => f"$r%.3f").mkString(", ") + " s")
      System.err.println(f"[extractbench] session $sessionS%.2f s, materialize " +
        reps.map(r => f"${r._1}%.2f").mkString(", ") + f" s, expected $expS%.2f s, " +
        f"warm-up $warmS%.2f s")
      samples("materialize_s") = reps.map(_._1)
      if (!trace) put(Metric("setup_s", setupS, "s"))

      if (!trace) measure(bench, pages, exp, seconds, put, samples)
      else {
        val tr = new Traced(bench, pages, exp)
        tracer = Some(tr.tracer)
        tr.run().foreach(put)
      }
    } catch {
      case e: Exception =>
        bench.checks.attempted += 1
        bench.checks.failed += 1
        bench.checks.failures += s"run aborted: $e"
        e.printStackTrace()
    } finally {
      if (trace) {
        val attempted = math.max(1L, bench.checks.attempted)
        put(Metric("failed_frac", bench.checks.failed.toDouble / attempted, "ratio"))
      } else put(Metric("peak_rss_mb", peakRssMb(), "MiB"))
      tracer.foreach(t => args.get("spans").foreach(p => t.write(new File(p))))
      spark.stop()
    }
    writeResult(new File(arg("result")), w, seed, seconds, trace, nproc,
      args.getOrElse("commit", "unknown"), bench.checks, out.values.toSeq, samples)
  }

  /** Closed-loop measurement: the batch passes, each after a GC, then
    * the lake sequences, each after a GC, as many as the workload plans
    * for `--seconds`. The counts follow from `--seconds` alone, not from
    * the clock: the engine keeps getting faster over a run (JIT), so a
    * count that shrank on a slow host would also report from an earlier,
    * slower point of that curve.
    *
    * Every timed operation has a [[Reference]] run on each side, and
    * its time is divided by their mean ([[Cost.inRef]]): the host's
    * speed drifts within a run as well as between runs. Wall-clock
    * figures go to the samples. */
  private def measure(bench: Bench, pages: org.apache.spark.sql.DataFrame,
                      exp: Expected, seconds: Double, put: Metric => Unit,
                      samples: mutable.Map[String, Seq[Double]]): Unit = {
    val docs = exp.digest.rows.toDouble
    val samplesOf = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(name: String, v: Double): Unit =
      samplesOf.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
    def addCost(name: String, c: Cost): Unit = {
      add(name + "_ref", c.inRef); add(name + "_s", c.wallS); add("ref_s", c.refS)
    }
    val plan = bench.w.plan(seconds)
    bench.probing = true
    (1 to plan.passes).foreach { _ =>
      bench.gc()
      bench.batchPass("pass", pages, exp).foreach { c =>
        addCost("pass", c); add("docs_per_ref", docs / c.inRef)
      }
    }
    (1 to plan.sequences).foreach { _ =>
      bench.gc()
      bench.lakeSequence(pages, exp, bench.incremental, reps = plan.reps).foreach { l =>
        l.commits.zip(l.processed).foreach { case (c, d) =>
          addCost("commit", c); add("commit_docs_per_ref", d / c.inRef)
        }
        l.noops.foreach(addCost("resume_noop", _))
        l.reads.foreach(addCost("lake_read", _))
        add("lake_bytes_per_doc", l.bytes.toDouble / l.docs)
      }
    }
    bench.probing = false
    def med(name: String) = samplesOf.get(name).filter(_.nonEmpty).map(b => Bench.median(b.toSeq))
      .getOrElse(Double.NaN)
    put(Metric("docs_per_ref",
      med(if (bench.w.lakePrimary) "commit_docs_per_ref" else "docs_per_ref"), "docs/ref"))
    put(Metric("resume_noop_ref", med("resume_noop_ref"), "ref"))
    put(Metric("lake_read_ref", med("lake_read_ref"), "ref"))
    put(Metric("lake_bytes_per_doc", med("lake_bytes_per_doc"), "B/doc"))
    samplesOf.foreach { case (k, v) => samples(k) = v.toSeq }
  }

  /** VmHWM of this JVM, in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def memTotalKb(): Long =
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def writeResult(f: File, w: Workload, seed: Long, seconds: Double,
                          trace: Boolean, nproc: Int, commit: String,
                          checks: Checks, metrics: Seq[Metric],
                          samples: collection.Map[String, Seq[Double]]): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("correct", checks.failed == 0)
    root.put("attempted", math.max(1L, checks.attempted))
    root.put("failed", checks.failed)
    val ms = root.putObject("metrics")
    metrics.foreach { m =>
      val o = ms.putObject(m.name)
      o.put("value", if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value)
      o.put("unit", m.unit)
    }
    val fp = root.putObject("fingerprint")
    fp.put("workload", w.name); fp.put("docs", w.docs); fp.put("seed", seed)
    fp.put("seconds", seconds); fp.put("trace", trace)
    fp.put("nproc", nproc); fp.put("mem_total_kb", memTotalKb())
    fp.put("max_heap_mb", Runtime.getRuntime.maxMemory() / (1024 * 1024))
    fp.put("jdk", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}")
    fp.put("jvm_args", ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-X")).mkString(" "))
    fp.put("spark", org.apache.spark.SPARK_VERSION)
    fp.put("commit", commit)
    val ss = root.putObject("samples")
    samples.foreach { case (k, v) => val a = ss.putArray(k); v.foreach(x => a.add(x)) }
    val fs = root.putArray("failures")
    checks.failures.foreach(fs.add)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
  }
}
