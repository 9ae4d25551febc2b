package graft

import org.apache.spark.sql.functions._

import ocrspark.bench.Measure
import ocrspark.bench.Measure.{force, median, timed}

/** Driver-run benchmark: one JSON line with per-query seconds plus
  * extraction throughput (docs/sec) — BENCH_r{N}.json vs BASELINE.md.
  *
  * The headline number is the end-to-end extraction pipeline over a
  * MATERIALIZED pages table (route→parse→normalize→assemble→fields),
  * i.e. the 100 TB-scale hot path reading columnar storage; synthesis
  * cost is reported separately as `synth_pages` and excluded from
  * throughput.
  *
  * Methodology (hardened round 3): every timed query runs under
  * [[Measure.reps]] — one full warm-up pass (C2 JIT of the kernels,
  * plan/codegen cache), then THREE timed reps with a GC before each;
  * the reported number is the MEDIAN and the JSON carries all reps
  * (`"reps"`) so spread is visible. Round 2's single timed pass let
  * one noisy host window record a phantom 2.3×
  * regression (BENCH_r02 e2e 4.71 s vs 1.76 s on re-run); the median
  * of 3 cannot be poisoned by one bad window.
  *
  * The JSON also reports the absolute throughput floor from BASELINE.md
  * (quiet-host median ≥ 35k docs/s at local[32]/80k docs) as
  * `floor_pass` so a regression trips a number, not a vibe.
  */
object Bench {

  val TimedReps = 3

  /** Throughput floor (docs/sec) pinned in BASELINE.md — applies to the
    * canonical config only (local[32], 80k-doc corpus). */
  val ThroughputFloor = 35000.0

  // ---- in-run noise canaries ------------------------------------------
  // Round 3 recorded a phantom floor FAIL (20.8k docs/s) from a loaded
  // host window that all three median reps shared; clean re-runs measure
  // 60-68k. Median-of-N cannot defend against WINDOW-level contamination,
  // so the bench times fixed constant-work canaries before and after the
  // suite, compares them to pinned quiet-host references, and (a)
  // sleep-retries a noisy window before starting, (b) marks the JSON
  // `window_contaminated` when any measurement exceeds its threshold —
  // the floor verdict is then explicitly not applicable instead of a
  // false FAIL.
  //
  // Round 4's lesson: ONE canary shape is not enough. BENCH_r04 recorded
  // a 2.3×-slow window that the CPU canary (register-only xorshift, no
  // loads/stores) passed at 1.34× — the host's memory bus was saturated
  // while cores were idle enough. The workload is memory-bandwidth-
  // shaped, so the window verdict now takes the MAX over three signals:
  // the CPU canary, a memory-bandwidth canary (fixed copy+scan over
  // buffers far past L3, the extraction kernels' traffic shape), and the
  // suite's own `scan_floor` query against its pinned quiet reference
  // (the in-band tripwire: it runs INSIDE the timed window, so
  // contamination arriving mid-suite that both pre/post canaries miss
  // still shows).

  /** Canary thread count: pinned (NOT availableProcessors) so the quiet
    * reference below stays comparable across configs. */
  val CanaryThreads = 32
  val CanaryIters = 400000000L // xorshift steps per thread
  /** Quiet-host wall seconds for ONE canary rep (calibrated on the
    * canonical 32-core host at 1-min load < 0.5; see BASELINE.md).
    * Individual reps scatter ±50% even on a quiet shared VM, so every
    * MEASUREMENT is the median of [[CanaryReps]] reps. */
  val CanaryQuietSec = 0.95
  val CanaryReps = 5
  /** canary/quiet ratio above which the window counts as contaminated. */
  val NoiseThreshold = 1.5
  val MaxNoiseRetries = 4

  /** Clean-window per-query references (seconds; canonical config:
    * local[32], sf0.1 replicate 16 = 80k docs) — from the round-4/5
    * clean records (BENCH/r4_clean_bench.json, r5_clean_bench.json, the
    * judge's verified re-run). A clean canonical run whose MIN-of-reps
    * exceeds [[RegressionThreshold]]× its reference lands in
    * `query_regressed`, so a regression in any timed query — not just
    * the e2e headline — trips a recorded number. Min, not median, for
    * the primary signal: host noise below the canary thresholds
    * inflates some reps but a STEP regression slows ALL of them, so
    * min-of-3 is the noise-robust signal (a gray-zone round-5 window
    * false-flagged 4 queries off medians). Min alone is blind to a
    * PROGRESSIVE regression (a leak re-growing per rep reads
    * 0.3/0.6/1.2 → min 0.3, clean), so the median is kept as a
    * secondary tripwire at [[RegressionThresholdMedian]] — with the
    * per-rep GC, clean-window medians are stable, making the laxer
    * median bound safe from the noise false-flags that retired it as
    * the primary. */
  // lazy: references ScanFloorQuietSec, declared below — a strict val
  // here would read 0.0 during object init
  // Re-pinned (round 5, final) from a clean window under the forcing
  // aggregate (Measure.force): the earlier refs were measured with bare
  // count() actions, under which Catalyst pruned much of t1/j2/j3/s2's
  // actual compute — those queries' true clean-window cost is 1.3-2×
  // the pruned figure.
  lazy val QueryRefs: Map[String, Double] = Map(
    "e2e_extract" -> 1.25, "p5_routing" -> 0.30,
    "scan_floor" -> ScanFloorQuietSec, // same baseline as the tripwire
    "t1_text_stats" -> 0.62, "d2_minhash_pairs" -> 2.50,
    "s2_cosine_topk" -> 0.62, "q1_agg" -> 0.21, "j1_join_agg" -> 0.34,
    "a1_gated_avg" -> 0.21, "w1_first_k" -> 0.25,
    "t4_token_histogram" -> 0.21, "j2_asof_join" -> 0.40,
    "j3_range_context" -> 0.50)
  val RegressionThreshold = 1.5
  val RegressionThresholdMedian = 2.0

  // ---- memory-bandwidth canary ---------------------------------------

  /** Memory canary geometry: 32 threads × 2 × 16 MiB Long arrays (1 GiB
    * resident, far past shared L3) — allocated once, reused every rep so
    * the timed section is pure copy+scan traffic, no GC. */
  val MemCanaryThreads = 32
  val MemCanaryLongs = 2 << 20 // 16 MiB of Longs per buffer
  /** 96 passes ≈ 0.7-0.8 s/rep on a quiet host. At the original 24
    * (≈0.2 s/rep) scheduler jitter dominated the measurement: quiet
    * medians scattered 0.17-0.33 s, so any pinned reference either left
    * a ~2× contamination blind band (pinned high) or false-flagged
    * legitimately quiet windows (pinned low). A 4×-longer rep averages
    * the jitter out; the quiet spread tightens proportionally. */
  val MemCanaryPasses = 96
  /** Quiet-host wall seconds for ONE memory-canary rep (calibrated like
    * [[CanaryQuietSec]]; see BASELINE.md). Re-pinned round 5 twice: the
    * original 0.40 was calibrated in a window that was itself bus-loaded
    * (real contamination up to ~2.2× true-quiet read as < 1.0×); the
    * final value is the quiet median at 96 passes (two independent
    * calibration medians: 0.581, 0.599), so the 1.5× threshold now
    * means a true 1.5× — no residual blind band. */
  val MemCanaryQuietSec = 0.58
  /** `scan_floor` (the suite's constant-work columnar scan of the 80k
    * corpus) quiet-host median — the in-band memory tripwire reference.
    * Clean windows measure 0.14-0.19 s (round-5 quiet reps 0.137-0.159);
    * the r4 poisoned window read 0.316 s (2.1×) while the CPU canary saw
    * only 1.34×. */
  val ScanFloorQuietSec = 0.15

  private lazy val memBufs: Array[(Array[Long], Array[Long])] =
    Array.tabulate(MemCanaryThreads) { t =>
      val src = new Array[Long](MemCanaryLongs)
      var i = 0
      var x = 0x9E3779B97F4A7C15L + t
      while (i < src.length) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        src(i) = x
        i += 1
      }
      (src, new Array[Long](MemCanaryLongs))
    }

  /** Fixed-work MEMORY-BANDWIDTH canary: every thread streams
    * [[MemCanaryPasses]] copy+scan passes over its pre-allocated 16 MiB
    * pair (arraycopy = the write path, a strided sum = the read path) —
    * the traffic shape of a columnar scan + extraction kernel. Returns
    * wall seconds; contention on the memory bus, not the cores, is the
    * variable being measured. */
  def memCanarySeconds(threads: Int = MemCanaryThreads,
                       passes: Int = MemCanaryPasses): Double = {
    // memBufs is sized for MemCanaryThreads; more threads would die on
    // AIOOBE inside the Thread (silently — join() still returns) and
    // report a bogus near-zero wall time that reads as a quiet window
    require(threads <= MemCanaryThreads,
      s"memory canary supports at most $MemCanaryThreads threads")
    val bufs = memBufs // force allocation outside the timed section
    threadSeconds(threads) { t =>
      val (src, dst) = bufs(t)
      var p = 0
      var sum = 0L
      while (p < passes) {
        System.arraycopy(src, 0, dst, 0, src.length)
        var i = 0
        while (i < dst.length) { sum += dst(i); i += 8 } // one read/line
        p += 1
      }
      canarySink.addAndGet(sum)
    }
  }

  private val canarySink = new java.util.concurrent.atomic.AtomicLong()

  /** Fixed-work CPU canary: `threads` xorshift loops run to completion;
    * returns wall seconds. Pure arithmetic — no Spark, no allocation —
    * so the only variable is host CPU contention. */
  def canarySeconds(threads: Int = CanaryThreads,
                    iters: Long = CanaryIters): Double =
    threadSeconds(threads) { t =>
      var x = 0x9E3779B97F4A7C15L + t
      var i = 0L
      while (i < iters) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      canarySink.addAndGet(x) // sink: loop cannot be eliminated
    }

  /** Wall seconds to run `work(t)` on `threads` threads, t = 0 until
    * threads: every thread is built first, then the clock spans starting
    * them all and joining them all. */
  private def threadSeconds(threads: Int)(work: Int => Unit): Double = {
    val ts = (0 until threads).map(t => new Thread(() => work(t)))
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** One canary measurement = median of [[CanaryReps]] fixed-work runs. */
  private def canaryMedian(rep: => Double): Double =
    median((1 to CanaryReps).map(_ => rep))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", TimedReps.toString).toInt

    // canary warm-up (JIT the loops + allocate the memory buffers), then
    // the pre-suite measurements; a noisy window gets bounded
    // sleep-and-retry before any timing
    canarySeconds(iters = CanaryIters / 20)
    memCanarySeconds(passes = 2)
    // the canary references are calibrated for the canonical 32-core
    // host: on a weaker box the fixed 32-thread workloads are slower on
    // a PERFECTLY quiet host, so retrying and flagging there would
    // misreport — noise factors are still reported, but the retry loop
    // and the contaminated verdict only engage on the canonical config
    // (where the floor applies)
    val canonicalHost = cpus == "32"
    var canaryPre = canaryMedian(canarySeconds())
    var memPre = canaryMedian(memCanarySeconds())
    def preNoise: Double =
      math.max(canaryPre / CanaryQuietSec, memPre / MemCanaryQuietSec)
    var noiseRetries = 0
    while (canonicalHost && preNoise > NoiseThreshold &&
           noiseRetries < MaxNoiseRetries) {
      System.err.println(
        f"[bench] noisy window (cpu ${canaryPre / CanaryQuietSec}%.2fx / " +
          f"mem ${memPre / MemCanaryQuietSec}%.2fx quiet) — sleeping 15s " +
          f"(retry ${noiseRetries + 1}/$MaxNoiseRetries)")
      Thread.sleep(15000)
      canaryPre = canaryMedian(canarySeconds())
      memPre = canaryMedian(memCanarySeconds())
      noiseRetries += 1
    }

    val spark = Measure.session(cpus.toInt)

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val allReps = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()

    // records a query's reps and median; returns the last rep's count
    def warmTimed(name: String)(f: => Long): Long = {
      val r = Measure.reps(reps)(f)
      results += (name -> r.median)
      allReps += (name -> r.seconds)
      r.rows
    }

    // materialize the pages table once (read-side benches then measure
    // columnar-scan + compute, not generator cost)
    val replicate = sys.env.getOrElse("SPARK_GRAFT_REPLICATE", "16").toInt
    var pagesPath = ""
    val (synthSec, _) = timed {
      pagesPath = ocrspark.job.Synth.ensurePages(spark, sfDir, replicate = replicate); 0L
    }
    results += ("synth_pages" -> synthSec)
    val pages = spark.read.parquet(pagesPath)

    // e2e hashes text/method/confidence: xxhash64 rejects the `fields`
    // map. Every other query hashes all of its output columns.
    val nDocs = warmTimed("e2e_extract") {
      force(ocrspark.job.ExtractJob.run(pages), "text", "method", "confidence")
    }

    // sustained throughput: 3 back-to-back passes timed as ONE block,
    // NO inter-rep GC — every pass pays the previous pass's collection
    // debt, the way a production job's micro-batches would. The
    // isolated-rep docs_per_sec above excludes residual inter-rep GC
    // (each rep starts debt-free), so it reads a few % higher; both are
    // reported so neither protocol can masquerade as the other.
    System.gc()
    val sustainedPasses = 3
    val (sustainedTotal, _) = timed {
      (1 to sustainedPasses).foreach { _ =>
        force(ocrspark.job.ExtractJob.run(pages), "text", "method", "confidence")
      }
      0L
    }
    val sustainedSec = sustainedTotal / sustainedPasses

    warmTimed("p5_routing") {
      force(ocrspark.job.ExtractJob.analyzeOnly(pages), "route", "text_length")
    }

    // pure columnar-scan floor for the same payload column: any query
    // that must read `html` cannot beat this — contextualizes p5 (its
    // compute is analyze-kernel + this scan).
    warmTimed("scan_floor") {
      force(pages.select(octet_length(col("html")).as("html_len")))
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.cache().count()

    warmTimed("t1_text_stats") {
      force(SparkEntry.queries("t1_text_stats")(spark, sfDir))
    }

    // the lazy plan persists nothing, so no cached copies accumulate
    // across the warm-up + reps
    warmTimed("d2_minhash_pairs") {
      ocrspark.ops.Dedup.minhashPairs(
        ocrspark.ops.DedupCorpus.withPlantedDups(
          docs.select(col("doc_id"), col("text"), col("lang"))),
        "doc_id", "text", 0.7).count()
    }

    warmTimed("s2_cosine_topk") {
      force(SparkEntry.queries("s2_cosine_topk")(spark, sfDir))
    }

    Seq("q1_agg", "j1_join_agg", "a1_gated_avg", "w1_first_k",
      "t4_token_histogram", "j2_asof_join", "j3_range_context").foreach { q =>
      warmTimed(q) { force(SparkEntry.queries(q)(spark, sfDir)) }
    }

    // post-suite canaries: contamination arriving MID-suite is caught by
    // these plus the in-band scan_floor tripwire below
    val canaryPost = canaryMedian(canarySeconds())
    val memPost = canaryMedian(memCanarySeconds())
    val noisePre = canaryPre / CanaryQuietSec
    val noisePost = canaryPost / CanaryQuietSec
    val memNoisePre = memPre / MemCanaryQuietSec
    val memNoisePost = memPost / MemCanaryQuietSec

    // the BASELINE.md floor + the pinned query references apply only to
    // the canonical config (local[32], replicate 16 → the 80k-doc
    // corpus) measured in a CLEAN window — a contaminated window's
    // numbers are explicitly non-adjudicable rather than a phantom FAIL
    val canonical = cpus == "32" && replicate == 16 && nDocs == 80000
    // in-band memory tripwire: scan_floor ran INSIDE the timed window,
    // so a memory-bus spike that both pre/post canaries bracket shows
    // here (the r4 failure mode — see the canary comment block)
    val scanFloorRatio = results("scan_floor") / ScanFloorQuietSec
    val contaminated = canonicalHost &&
      (noisePre > NoiseThreshold || noisePost > NoiseThreshold ||
        memNoisePre > NoiseThreshold || memNoisePost > NoiseThreshold ||
        (canonical && scanFloorRatio > NoiseThreshold))

    val extractSec = results("e2e_extract")
    val docsPerSec = if (extractSec > 0) nDocs / extractSec else 0.0
    val docsPerSecSustained =
      if (sustainedSec > 0) nDocs / sustainedSec else 0.0
    val floorApplies = canonical && !contaminated
    // floor_pass is NULL when the floor does not apply (contaminated or
    // non-canonical window): a consumer keying on floor_pass alone must
    // not read a vacuous true as a PASS
    val floorPassJson =
      if (floorApplies) (docsPerSec >= ThroughputFloor).toString else "null"
    // per-query regression tripwires: clean-window references pinned for
    // every timed query, so a regression in any of them trips a recorded
    // field even when the headline floor still passes. Primary ratio is
    // min-of-reps / ref; the median backs it up at a laxer threshold to
    // catch progressive regressions min is blind to (see QueryRefs
    // scaladoc).
    val ratios = QueryRefs.flatMap { case (q, ref) =>
      allReps.get(q).map(rs => q -> rs.min / ref)
    }
    val medianRatios = QueryRefs.flatMap { case (q, ref) =>
      results.get(q).map(v => q -> v / ref)
    }
    val ratiosJson = ratios
      .map { case (q, r) => "\"" + q + f"\":$r%.2f" }.mkString("{", ",", "}")
    val regressed =
      if (floorApplies)
        (ratios.filter(_._2 > RegressionThreshold).keys ++
          medianRatios.filter(_._2 > RegressionThresholdMedian).keys)
          .toSeq.distinct.sorted
      else Seq.empty
    val regressedJson = regressed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val repsJson = allReps.map { case (k, v) =>
      "\"" + k + "\":" + v.map(x => f"$x%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.values.sum
    val line =
      f"""{"metric":"extraction throughput + op latencies","value":$total%.3f,"unit":"sec","queries":$qs,"reps":$repsJson,"sf":"$sfDir","docs":$nDocs,"docs_per_sec":$docsPerSec%.1f,"e2e_sustained_sec":$sustainedSec%.3f,"docs_per_sec_sustained":$docsPerSecSustained%.1f,"cpus":$cpus,"timed_reps":$reps,"canary_quiet_sec":$CanaryQuietSec%.3f,"canary_pre_sec":$canaryPre%.3f,"canary_post_sec":$canaryPost%.3f,"noise_factor_pre":$noisePre%.2f,"noise_factor_post":$noisePost%.2f,"mem_canary_quiet_sec":$MemCanaryQuietSec%.3f,"mem_canary_pre_sec":$memPre%.3f,"mem_canary_post_sec":$memPost%.3f,"mem_noise_factor_pre":$memNoisePre%.2f,"mem_noise_factor_post":$memNoisePost%.2f,"scan_floor_quiet_sec":$ScanFloorQuietSec%.3f,"scan_floor_ratio":$scanFloorRatio%.2f,"noise_retries":$noiseRetries,"window_contaminated":$contaminated,"floor_docs_per_sec":$ThroughputFloor%.0f,"floor_applies":$floorApplies,"floor_pass":$floorPassJson,"ratio_vs_ref":$ratiosJson,"query_regressed":$regressedJson}"""
    println(line)
    if (contaminated)
      System.err.println(
        f"[bench] WINDOW CONTAMINATED (cpu ${noisePre}%.2fx/${noisePost}%.2fx, " +
          f"mem ${memNoisePre}%.2fx/${memNoisePost}%.2fx, " +
          f"scan_floor ${scanFloorRatio}%.2fx quiet) — throughput numbers " +
          "not adjudicable")
    else if (canonical) {
      System.err.println(
        f"[bench] throughput floor (BASELINE.md): $docsPerSec%.0f docs/s vs ≥$ThroughputFloor%.0f → ${if (docsPerSec >= ThroughputFloor) "PASS" else "FAIL"}")
      if (regressed.nonEmpty)
        System.err.println(
          s"[bench] query regressions vs clean refs (> ${RegressionThreshold}x): " +
            regressed.mkString(", "))
    }
    // sbt's logger prefixes forked stdout with [info], which broke the
    // driver's JSON parse in r1 — also land the line in a bare file.
    try {
      val benchDir = new java.io.File("BENCH")
      benchDir.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(benchDir, "last_bench.json").toPath, line + "\n")
    } catch { case _: Exception => () }
    spark.stop()
  }
}
