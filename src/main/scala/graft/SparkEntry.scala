package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + FIXTURES.md.
  *
  * `queries` holds one entry per implemented operator from SURVEY.md §2;
  * `oracleSql` holds DuckDB-runnable ANSI SQL for every SQL-expressible
  * query (UDF-based text operators are covered by the golden byte-identity
  * suite instead and get the driver's rows-only check).
  */
object SparkEntry {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Driver-hashable serialization of a map column: sorted entries →
    * deterministic JSON string. The driver's pandas comparator cannot
    * sort/hash MapType columns, so no query may emit a top-level
    * map/array/struct (reference field-map contract: app.py:505-533). */
  private def fieldsJson(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    to_json(map_from_entries(array_sort(map_entries(c))))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * normalize + field-extract over the documents table (the minimum
    * end-to-end slice of SURVEY.md §7.3 step 1). */
  def entry(spark: SparkSession): DataFrame =
    queries("f1_normalize_extract")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ trainingOps

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F1+F2: the byte-identity text engine over the documents table.
    // Not SQL-expressible (24 regex passes + quirk semantics) → golden
    // suite is the oracle; driver records rows-only.
    "f1_normalize_extract" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          ocrspark.functions.GraftFunctions
            .normalize_text(col("text"), col("lang")).as("text_norm"))
        .withColumn("fields", fieldsJson(
          ocrspark.functions.GraftFunctions.extract_fields(col("text_norm"))))
        .orderBy(col("doc_id"))
    }),

    // F8: markdown report assembly — full reference template
    // (generate_markdown_report, app.py:1014-1054): processing-info
    // section, title-cased fields in extraction order, fenced content,
    // footer. Runs the real extraction over the pages table.
    "f8_markdown_report" -> ((s, dir) => {
      val pages = ocrspark.job.Synth.pagesDF(s, dir)
      pages
        // upstream-text rows carry html=null but still get a report —
        // size 0, like the reference reporting on a 0-byte temp file
        .withColumn("size_bytes",
          coalesce(octet_length(col("html")).cast("long"), lit(0L)))
        .withColumn("r", ocrspark.job.ExtractJob.extractUdf(
          col("html"), col("text"), col("lang"), lit(false)))
        .select(col("url"), ocrspark.text.Report.markdownUdf(
          col("url"), col("warc_ts"), col("lang"), col("size_bytes"),
          col("r.method"), col("r.pages"), col("r.confidence"),
          col("r.text"), col("r.fields")).as("report"))
        .orderBy(col("url"))
    }),

    // F9/S6: JSON metadata sink — the reference /process response shape
    // (app.py:957-975 key set and order: success, filename,
    // pages_processed, processing_time, processing_method, language,
    // file_size_mb, confidence, timestamp, extracted_fields?, text).
    // Deterministic deviations: processing_time fixed 0.0, timestamp
    // from warc_ts, extracted_fields key-sorted. to_json drops the
    // null extracted_fields when no fields fired (the reference omits
    // the key likewise).
    "f9_json_metadata" -> ((s, dir) => {
      ocrspark.job.Synth.pagesDF(s, dir)
        .withColumn("size_bytes", coalesce(octet_length(col("html")), lit(0)))
        .withColumn("r", ocrspark.job.ExtractJob.extractUdf(
          col("html"), col("text"), col("lang"), lit(false)))
        .select(col("url"), to_json(struct(
          col("r.error").isNull.as("success"),
          element_at(split(col("url"), "/"), -1).as("filename"),
          col("r.pages").as("pages_processed"),
          lit(0.0).as("processing_time"),
          col("r.method").as("processing_method"),
          // reference default language is spa (app.py:915-919) — a null
          // lang must NOT silently drop the key from the JSON
          when(col("lang") === "es", "spa")
            .when(col("lang") === "en", "eng")
            .when(col("lang").isNull, "spa")
            .otherwise(col("lang")).as("language"),
          (floor(col("size_bytes") / lit(1048576.0) * lit(100.0) + lit(0.5))
            / lit(100.0)).as("file_size_mb"),
          (floor(col("r.confidence") * lit(100.0) + lit(0.5)) / lit(100.0))
            .as("confidence"),
          date_format(col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss")
            .as("timestamp"),
          when(size(col("r.fields")) > 0,
            map_from_entries(array_sort(map_entries(col("r.fields")))))
            .as("extracted_fields"),
          col("r.text").as("text"))).as("metadata_json"))
        .orderBy(col("url"))
    }),

    // P1-P4-shaped filter/projection with pushdown: long Spanish/English
    // docs only, projecting two columns (scan must prune columns).
    "p1_filter_project" -> ((s, dir) => {
      docs(s, dir)
        .filter(col("lang").isin("es", "en") && col("n_chars") > lit(500))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // S1+P5+P6+F1-F3+A1-A6: the flagship end-to-end extraction pipeline
    // over the synthesized Common-Crawl-style pages table (FIXTURES.md
    // §1.1). Route → parse → normalize → assemble → fields → confidence.
    // Adjudicated via __OUT__ self-consistency: the oracle re-derives
    // the whole confidence model (per-page scores from the assembled
    // text's separator-delimited chunks, the >60 gate, the max(1,·)
    // divide, the 95.0 text-path constant) plus pages/processed/low
    // counts in DuckDB; byte identity of `text` stays the golden
    // suite's job. `media_id` = xxhash64(url) links each row to the
    // media table's id space for the m1 PDF page-count cross-check.
    "e2e_extract" -> ((s, dir) => {
      ocrspark.job.ExtractJob
        .run(ocrspark.job.Synth.pagesDF(s, dir))
        .drop("warc_ts") // timestamp not comparable across writers
        .withColumn("fields", fieldsJson(col("fields")))
        .withColumn("media_id", xxhash64(col("url")))
        .orderBy(col("url"))
    }),

    // P5/§3.3: the /analyze-shaped metadata query — routing analysis as a
    // composable column, no extraction output.
    "p5_routing" -> ((s, dir) => {
      ocrspark.job.ExtractJob
        .analyzeOnly(ocrspark.job.Synth.pagesDF(s, dir))
        .orderBy(col("url"))
    }),

    // P5c: routing-decision counts from the ANALYZE kernel — the oracle
    // re-derives the same counts in DuckDB from the dumped e2e_extract
    // output, cross-checking the cheap routing fast path against the
    // full extraction path's per-doc route (their per-url agreement is
    // pinned by ExtractSpec; this makes it a driver-adjudicated green).
    "p5c_routing_counts" -> ((s, dir) => {
      ocrspark.job.ExtractJob
        .analyzeOnly(ocrspark.job.Synth.pagesDF(s, dir))
        .groupBy(col("route")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("route"))
    }),

    // A5: batch summary counters (the reference's resumen_lote analog).
    "a5_batch_summary" -> ((s, dir) => {
      ocrspark.job.ExtractJob
        .metrics(ocrspark.job.ExtractJob.run(ocrspark.job.Synth.pagesDF(s, dir)))
        .withColumn("avg_confidence", round(col("avg_confidence"), 4))
    }),

    // A1: the confidence-average aggregation shape (sum over a >60 gate,
    // max(1,count) guarded divide) on the events table — SQL-expressible,
    // DuckDB-verified.
    "a1_gated_avg" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"))
        .agg(
          round(
            sum(when(col("value") > 60.0, col("value")).otherwise(lit(0.0))) /
              greatest(lit(1L), count(when(col("value") > 60.0, lit(1)))),
            4).as("gated_avg"),
          count(when(col("value") > 60.0, lit(1))).as("n_over"))
        .orderBy(col("event_type"))
    }),

    // W1-analog: first-k per group via row_number window (the reference's
    // first-3-pages sampling shape) — earliest 3 events per type.
    "w1_first_k" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("event_id"), col("rn"))
        .orderBy(col("event_type"), col("rn"))
    }),

    // F7: timestamp formatting (lineage/report timestamps,
    // LakeTable.writeMetrics shape) — DuckDB-verified.
    "f7_ts_format" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_fmt"),
          date_format(col("ts"), "dd/MM/yyyy").as("ts_date"))
        .orderBy(col("event_id"))
    }),

    // W3: sample truncation (the analyzer's `total_text[:500].strip()`
    // shape, app.py:287) — slice then strip — DuckDB-verified. Python
    // .strip() removes ALL whitespace, not just spaces (trim()'s
    // semantic), so the mirror strips the explicit ws class on both
    // sides; the kernel path (Analyze.sampleText) uses Normalize.pyStrip
    // for full Python parity, which the golden suite pins.
    "w3_truncate" -> ((s, dir) => {
      val sample = ocrspark.ops.TextOps.wsTrim(substring(col("text"), 1, 500))
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          sample.as("sample"),
          length(sample).as("sample_len"))
        .orderBy(col("doc_id"))
    }),

    // F10/F11: size-MB math with the cross-engine round-half-up trick
    // (get_file_size_mb, app.py:207-210) — DuckDB-verified.
    "f10_size_mb" -> ((s, dir) => {
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          octet_length(col("text")).as("bytes"),
          (floor(octet_length(col("text")) / lit(1048576.0) * lit(1000000.0)
            + lit(0.5)) / lit(1000000.0)).as("size_mb"))
        .orderBy(col("doc_id"))
    }),

    // A3: best-of argmax (the Arc90 best-candidate / best-page shape) —
    // highest-value event per user, ties to smallest event_id —
    // DuckDB-verified.
    "a3_argmax" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy(col("user_id"))
    }),

    // O12: snapshot-commit + resume — partial run (buckets <20), then a
    // resumed full run; output is the final lineage. Deterministic:
    // bucket provenance must show snapshot 1 for <20 and 2 for the rest.
    // The lake dir is a DETERMINISTIC per-input path wiped on entry, so
    // repeated invocations reuse one directory instead of leaking a
    // fresh temp dir per run (round-2 verdict item).
    "o12_resume_lineage" -> ((s, dir) => {
      val lakeDir = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        "graft_lake_resume_" + Integer.toHexString(dir.hashCode))
      org.apache.commons.io.FileUtils.deleteDirectory(lakeDir.toFile)
      java.nio.file.Files.createDirectories(lakeDir)
      val table = new ocrspark.lake.LakeTable(lakeDir.toString)
      val pages = ocrspark.job.Synth.pagesDF(s, dir)
      val nBuckets = ocrspark.job.ExtractJob.DefaultBuckets
      ocrspark.job.IncrementalExtract.run(s,
        pages.filter(ocrspark.job.ExtractJob.bucketCol(nBuckets) < 20), table)
      ocrspark.job.IncrementalExtract.run(s, pages, table)
      table.lineage(s)
        .select(col("bucket"), col("snapshot_id"), col("n_docs"))
        .orderBy(col("bucket"))
    }),

    // J1: broadcast-dim equi-join + aggregation (diff-join machinery
    // building block, SURVEY.md §2.3): revenue per customer market segment.
    "j1_join_agg" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      orders.join(broadcast(cust),
          orders("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),
  )

  // ---- training-data pipeline ops (dedup / ANN / text analysis) ------

  /** The d5 corpus (embeddings ∪ 50 perturbed copies) and its
    * corpus-adaptive plane count — shared by the d5 query and the
    * d5s_corpus oracle dump so both see the identical bucketing. The
    * plane count sizes to the corpus (floor 16 keeps small-scale
    * behavior identical; ~35 planes at 10^12 docs) and counts the BASE
    * parquet (metadata-only statistics pushdown) rather than the
    * union — the +50 planted rows can't change a log2. */
  private def d5CorpusAndPlanes(s: SparkSession, dir: String): (DataFrame, Int) = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding"), x => (x + lit(0.001f)).cast("float"))
          .as("embedding"))
    (emb.unionAll(planted), ocrspark.ops.Dedup.adaptivePlanes(emb.count() + 50))
  }

  /** One deterministic k-means training per sf directory — the s4
    * query plus its two oracle dumps (cells, probes) share the coarse
    * quantizer instead of paying three identical trainings per Verify
    * pass (Lloyd's here is RNG-free, so the cache is a pure memo). The
    * memo key folds in the parquet directory's latest modification time,
    * so embeddings regenerated in-process invalidate the entry instead
    * of silently serving stale centroids. */
  private val ivfCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()
  private def ivfCentroids(s: SparkSession, dir: String): Array[Array[Float]] = {
    val path = new java.io.File(s"$dir/embeddings.parquet")
    val mtime = math.max(path.lastModified(),
      Option(path.listFiles()).map(_.map(_.lastModified()).foldLeft(0L)(math.max))
        .getOrElse(0L))
    ivfCentroidCache.computeIfAbsent(s"$dir@$mtime", _ =>
      ocrspark.ops.Similarity.kmeansCentroids(
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
        16, iters = 4))
  }

  /** The multimodal corpus shared by m1/m1b/m2 and the m1s payload
    * dump: pages payloads under xxhash64(url) ids plus the synthetic
    * WAV/MP4 cohort under negative ids. ONE definition — the m1b
    * oracle adjudicates m1b against m1s row-for-row, so the query and
    * the dump must never drift apart. */
  private def mediaCorpus(s: SparkSession, dir: String): DataFrame =
    ocrspark.job.Synth.pagesDF(s, dir)
      .select(xxhash64(col("url")).as("id"), col("html"))
      .unionAll(ocrspark.job.Synth.avMediaDF(s, 8))

  private def dedupCorpus(s: SparkSession, dir: String): DataFrame =
    ocrspark.ops.DedupCorpus.withPlantedDups(
      docs(s, dir).select(col("doc_id"), col("text"), col("lang")))

  /** documents ∪ exact copies (doc_id+2M for doc_id%11==0) — the
    * SQL-expressible slice of the planted corpus (no mutation). */
  private def exactCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    d.unionAll(d.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
  }

  private def trainingOps: Map[String, (SparkSession, String) => DataFrame] = Map(
    // D1: exact dedup via md5 hash-groupBy (DuckDB-verified).
    "d1_exact_dedup" -> ((s, dir) => {
      ocrspark.ops.Dedup.exactGroups(exactCorpus(s, dir), "doc_id", "text")
        .orderBy(col("keeper"))
    }),

    // D2: MinHash+LSH near-dup pairs (shingle→minhash→band→bucket-join).
    "d2_minhash_pairs" -> ((s, dir) => {
      ocrspark.ops.Dedup.minhashPairs(dedupCorpus(s, dir), "doc_id", "text", 0.7)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // D3: SimHash near-dup pairs (pigeonhole candidate generation).
    "d3_simhash_pairs" -> ((s, dir) => {
      ocrspark.ops.Dedup.simhashPairs(dedupCorpus(s, dir), "doc_id", "text", 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // D3s: the raw simhash sketches for the same corpus — dumped so the
    // d3 oracle can re-derive the pigeonhole + keeper-star pairing
    // independently in DuckDB (the sketch UDF itself is covered by the
    // sbt suite; everything downstream of it gets a cross-engine check).
    "d3s_simhash_sketches" -> ((s, dir) => {
      dedupCorpus(s, dir)
        .select(col("doc_id"), ocrspark.ops.Dedup.simhash(col("text")).as("sh"))
        .orderBy(col("doc_id"))
    }),


    // D4: exact n-gram Jaccard re-scoring over LSH candidates.
    "d4_ngram_jaccard" -> ((s, dir) => {
      ocrspark.ops.Dedup.ngramJaccardPairs(dedupCorpus(s, dir), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // D5: embedding-cosine near-dup via sign-LSH buckets. Near-dups are
    // planted Spark-side (deterministic transform, no driver collect):
    // vec_id < 50 each get a +0.001-perturbed copy at vec_id + 10000.
    // DuckDB-verified: the d5s_corpus dump carries (id, bucket, vector)
    // and the oracle re-derives bucket sizing, in-cap all-pairs vs
    // over-cap keeper star, and the cosine threshold in SQL.
    "d5_embed_neardup" -> ((s, dir) => {
      val (corpus, planes) = d5CorpusAndPlanes(s, dir)
      ocrspark.ops.Dedup.embeddingNearDups(
          corpus, "vec_id", "embedding", 0.99, planes)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // A9: hierarchical rollup — event counts and gated value sums at
    // (type, day), (type), and grand-total levels in ONE pass (Spark
    // expands grouping sets before the shuffle; partial aggregation
    // still applies). The classic OLAP drill-down shape.
    "a9_rollup" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"),
          date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"),
          col("value"))
        .rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)
    }),

    // A8: exact percentiles per group — corpus length distribution by
    // language (the "how long are my documents" curation question).
    // Spark's exact `percentile` and DuckDB's `quantile_cont` share the
    // same linear-interpolation definition, so this is oracle-exact
    // after round(6).
    "a8_percentiles" -> ((s, dir) => {
      docs(s, dir).groupBy(col("lang"))
        .agg(round(expr("percentile(n_chars, 0.5)"), 6).as("p50"),
          round(expr("percentile(n_chars, 0.95)"), 6).as("p95"),
          count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),

    // W5b: batch sessionization (gaps-and-islands) — the batch analog
    // of the streaming hostSessions operator: a session breaks after
    // >30 min of inactivity per user. Two stacked windows over ONE
    // shuffle on user_id (lag → new-session flag → running sum), then
    // the session aggregate; fully SQL-expressible, DuckDB-verified.
    "w5_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val flagged = ev.withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
            .otherwise(0L))
        .withColumn("sess_no", sum(col("new_sess")).over(byUser))
      flagged.groupBy(col("user_id"), col("sess_no"))
        .agg(min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("sess_no"))
    }),

    // J3: binned range join — for each error event, how many of the
    // user's non-error events fall in the preceding 5 minutes (context
    // extraction around failures). The bin trick turns the interval
    // predicate into an equi-join on (user, time-bin) — no
    // BroadcastNestedLoop; DuckDB checks it with a plain inequality
    // join.
    "j3_range_context" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      val win = 300000000L // 5 min in µs
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"),
          (col("us") - win).as("start_us"), col("us").as("end_us"))
      val points = ev.filter(col("event_type") =!= "error")
        .select(col("user_id"), col("us").as("p_us"))
      val matched = ocrspark.ops.RangeJoin.pointInInterval(
        points, errors, "user_id", "p_us", "start_us", "end_us", win)
      val counts = matched.groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_ctx"))
      errors.select(col("event_id"), col("user_id"))
        .join(counts, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n_ctx"), lit(0L)).as("n_ctx"))
        .orderBy(col("event_id"))
    }),

    // J2: as-of join — for each non-error event, the user's most
    // recent error event at-or-before it (session diagnostics shape).
    // Union-scan implementation: one shuffle per side, no join node;
    // DuckDB's native ASOF JOIN is the cross-engine oracle.
    "j2_asof_join" -> ((s, dir) => {
      val events = s.read.parquet(s"$dir/events.parquet")
      val errors = events.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val rest = events.filter(col("event_type") =!= "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      ocrspark.ops.AsOfJoin.asOf(rest, errors, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          col("asof.event_id").as("last_error_id"),
          col("asof.value").as("last_error_value"))
        .orderBy(col("event_id"))
    }),

    // J2R: the same as-of join through the hot-key-safe ranged variant
    // (1-hour splits): identical semantics — the SAME DuckDB ASOF oracle
    // must match — but the window shuffle key is (user, hour) so one
    // pathological user can never funnel into a single task.
    "j2r_asof_ranged" -> ((s, dir) => {
      val events = s.read.parquet(s"$dir/events.parquet")
      val errors = events.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val rest = events.filter(col("event_type") =!= "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      ocrspark.ops.AsOfJoin.asOfRanged(rest, errors, "user_id", "ts",
          3600L * 1000000L)
        .select(col("event_id"), col("user_id"),
          col("asof.event_id").as("last_error_id"),
          col("asof.value").as("last_error_value"))
        .orderBy(col("event_id"))
    }),

    // S2: brute-force cosine top-k (exact ANN baseline, DuckDB-verified).
    "s2_cosine_topk" -> ((s, dir) => {
      ocrspark.ops.Similarity.bruteForceTopK(
          s.read.parquet(s"$dir/embeddings.parquet"),
          "vec_id", "embedding", Seq(0L, 1L, 2L, 3L, 4L), 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // S3: LSH-bucketed approximate top-k (the scale path).
    "s3_lsh_topk" -> ((s, dir) => {
      ocrspark.ops.Similarity.lshTopK(
          s.read.parquet(s"$dir/embeddings.parquet"),
          "vec_id", "embedding", Seq(0L, 1L, 2L, 3L, 4L), 10, planes = 6)
        .orderBy(col("query_id"), col("rank"))
    }),

    // S4: IVF (k-means inverted-file) approximate top-k — the
    // data-adaptive ANN scale path next to s3's hash-bucket LSH.
    "s4_ivf_topk" -> ((s, dir) => {
      ocrspark.ops.Similarity.ivfTopK(
          s.read.parquet(s"$dir/embeddings.parquet"),
          "vec_id", "embedding", Seq(0L, 1L, 2L, 3L, 4L), 10,
          ivfCentroids(s, dir), nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // T1: token counting + quality ratios (pure column expressions,
    // DuckDB-verified).
    "t1_text_stats" -> ((s, dir) => {
      val t = docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val quality = ocrspark.ops.TextOps.qualityColumns(col("text"))
      t.select(Seq(col("doc_id"),
          ocrspark.ops.TextOps.wsTokenCount(col("text")).as("ws_tokens"),
          ocrspark.ops.TextOps.bpeTokenCount(col("text")).as("bpe_tokens")) ++
          quality.map { case (n, c) => c.as(n) } :+
          ocrspark.ops.TextOps.qualityScore(col("text")).as("quality"): _*)
        .orderBy(col("doc_id"))
    }),

    // T2: language-ID distribution (n-gram/stopword heuristic UDF).
    "t2_langid" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          ocrspark.ops.TextOps.languageId(col("text")).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    }),

    // T3: winnowing fingerprints (rolling-hash document signatures) —
    // scalar 64-bit fingerprint, driver-hashable as-is.
    "t3_fingerprint" -> ((s, dir) => {
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          ocrspark.ops.TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // T4: token-frequency histogram (vocabulary building) — classic
    // word-count with map-side combine + global top-N; DuckDB oracle.
    "t4_token_histogram" -> ((s, dir) => {
      ocrspark.ops.TextOps.tokenHistogram(docs(s, dir), "text", 200)
    }),

    // M1: multimodal metadata over the pages table's binary payloads
    // plus a synthesized WAV/MP4 cohort (negative ids) — every metadata
    // field is a real pure-JDK header parse (PNG/JPEG/GIF/BMP dims, PDF
    // pages, WAV frames+duration, MP4 duration); only pixel/sample
    // decode is out of scope (no codecs in sandbox).
    "m1_media_meta" -> ((s, dir) => {
      val pages = mediaCorpus(s, dir)
      ocrspark.ops.Multimodal.withMediaMetadata(pages, "id", "html")
        .orderBy(col("id"))
    }),

    // M1b: the non-PDF slice of m1 with a full DuckDB oracle — every
    // field re-derived in SQL from the dumped payload hex: magic-byte
    // sniff, PNG/GIF/BMP fixed-offset dims, the JPEG SOF segment walk
    // and WAV/MP4 chunk-box walks as recursive CTEs, and the sampled
    // 31-polynomial content hash in mod-2^64 HUGEINT arithmetic. (PDF
    // rows are excluded because their page count comes from the
    // engine's own 579-line parser — sbt/golden-verified instead.)
    "m1b_media_meta_nonpdf" -> ((s, dir) => {
      val pages = mediaCorpus(s, dir)
      ocrspark.ops.Multimodal.withMediaMetadata(pages, "id", "html")
        .filter(col("kind") =!= "application/pdf")
        .orderBy(col("id"))
    }),

    // M2: frame-sampling explode + resize planning over media metadata
    // (multimodal plumbing beyond decode — stride-4 frame keys, 224-box
    // aspect-preserving resize arithmetic).
    "m2_frame_sample" -> ((s, dir) => {
      val pages = mediaCorpus(s, dir)
      val meta = ocrspark.ops.Multimodal.withMediaMetadata(pages, "id", "html")
      // metadata rides through the frame explode — one decode pass,
      // no self-join back to the media table
      ocrspark.ops.Multimodal.resizePlan(
          ocrspark.ops.Multimodal.sampleFrames(meta, "id", everyN = 4),
          maxSide = 224)
        .select(col("id"), col("frame_idx"), col("frame_key"),
          col("scale"), col("out_w"), col("out_h"))
        .orderBy(col("id"), col("frame_idx"))
    }),

    // C1: end-to-end training-data curation — quality gate + exact
    // dedup (keep the smallest doc_id per distinct text) in one
    // pipeline, the composition a 100 TB curation job runs per shard.
    // Fully SQL-expressible → DuckDB-verified.
    "c1_curate" -> ((s, dir) => {
      val t = docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"), col("lang"),
          ocrspark.ops.TextOps.qualityScore(col("text")).as("quality"))
        .filter(col("quality") >= 0.5)
      ocrspark.ops.Dedup.exactDedup(t, "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // Example TPC-H-style agg (driver contract smoke query).
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // W2: global sort + limit (top-N revenue orders) — DuckDB-verified.
    "w2_topn" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    }),

    // SET2: union + distinct across two filtered slices — DuckDB-verified.
    "set2_union_distinct" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
      e.filter(col("event_type") === "purchase").select(col("user_id"))
        .union(e.filter(col("value") > 90.0).select(col("user_id")))
        .distinct()
        .orderBy(col("user_id"))
    }),

    // SET3: intersect — users seen in BOTH the purchase cohort and the
    // high-value cohort — DuckDB-verified.
    "set3_intersect" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
      e.filter(col("event_type") === "purchase").select(col("user_id"))
        .intersect(e.filter(col("value") > 90.0).select(col("user_id")))
        .orderBy(col("user_id"))
    }),

    // SET1: anti-join (customers with no orders) — the resume anti-join
    // shape on driver tables, DuckDB-verified.
    "set1_anti_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_totalprice") > 300000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey"))
    }),
  )

  /** Auxiliary oracle-input dumps written by Verify alongside the query
    * dumps. Each feeds an `__OUT__`-referencing oracle: minhash sketches
    * + band rows (the banding shuffle's exact input; band signatures use
    * Spark's murmur hash, not reproducible in DuckDB, hence dumped not
    * re-derived) and the word-3-gram sets for the d4 exact-jaccard
    * rescore. Every column here must be SCALAR: the driver hashes every
    * parquet directory it finds in the dump dir, and its pandas
    * comparator throws on top-level arrays (the round-3 `err` rows) —
    * so array payloads ship as comma-joined strings and the consuming
    * oracle SQL re-parses them (`string_split` + CAST). */
  def oracleInputDumps: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d2s_minhash_sketches" -> ((s, dir) =>
      ocrspark.ops.Dedup.minhashSketches(dedupCorpus(s, dir), "doc_id", "text")
        .select(col("id"),
          array_join(col("mh").cast("array<string>"), ",").as("mh"))),
    "d2s_minhash_bands" -> ((s, dir) =>
      ocrspark.ops.Dedup.minhashBands(
        ocrspark.ops.Dedup.minhashSketches(dedupCorpus(s, dir),
          "doc_id", "text"))),
    "d4s_ngram_sets" -> ((s, dir) =>
      dedupCorpus(s, dir)
        .select(col("doc_id").as("id"),
          array_join(ocrspark.ops.Dedup.ngramSet(col("text"))
            .cast("array<string>"), ",").as("ng"))),
    // m1b's raw payloads as hex (id, hx, n) — the oracle re-derives
    // every metadata field from these bytes in pure SQL. Hex doubles
    // the bytes but stays scalar (driver-hashable) and exact.
    "m1s_payloads" -> ((s, dir) =>
      mediaCorpus(s, dir)
        .select(col("id"), hex(col("html")).as("hx"),
          coalesce(octet_length(col("html")).cast("long"), lit(0L))
            .as("n"))),
    // f8's non-derivable inputs: the e2e dump intentionally drops
    // warc_ts and never carries the raw payload size, so the report
    // timestamp + size relay here and the oracle re-assembles the FULL
    // markdown template (header, bullet list, field section in
    // fieldPatterns order, fenced text, footer) in DuckDB SQL.
    "f8s_inputs" -> ((s, dir) =>
      ocrspark.job.Synth.pagesDF(s, dir)
        .select(col("url"), col("warc_ts"),
          coalesce(octet_length(col("html")).cast("long"), lit(0L))
            .as("size_bytes"))),
    // ANN oracle inputs: bucket/cell assignments + query probe lists
    // (the UDF-hashed parts the SQL engine cannot reproduce); scoring
    // and ranking downstream are re-derived in DuckDB from these plus
    // the embeddings table itself.
    "s3s_buckets" -> ((s, dir) =>
      s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"),
          ocrspark.ops.Similarity.hyperplaneBucket(col("embedding"), 6)
            .as("bucket"))),
    "s3s_probes" -> ((s, dir) =>
      s.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id").isin(0L, 1L, 2L, 3L, 4L))
        .select(col("vec_id").as("query_id"),
          array_join(ocrspark.ops.Similarity.probeBuckets(col("embedding"), 6)
            .cast("array<string>"), ",").as("probes"))),
    "s4s_cells" -> ((s, dir) =>
      s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"),
          ocrspark.ops.Similarity.ivfCell(col("embedding"), ivfCentroids(s, dir))
            .as("cell"))),
    "s4s_probes" -> ((s, dir) =>
      s.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id").isin(0L, 1L, 2L, 3L, 4L))
        .select(col("vec_id").as("query_id"),
          array_join(ocrspark.ops.Similarity.ivfProbes(col("embedding"),
            ivfCentroids(s, dir), 4).cast("array<string>"), ",").as("cells"))),
    // d5's corpus includes 50 planted vectors that exist in no table, so
    // the vectors ride along as comma-joined FLOAT strings (Float
    // .toString round-trips exactly; the oracle re-casts via FLOAT
    // before widening to DOUBLE so cosine sees bit-identical inputs).
    "d5s_corpus" -> ((s, dir) => {
      val (corpus, planes) = d5CorpusAndPlanes(s, dir)
      corpus.select(col("vec_id").as("id"),
        ocrspark.ops.Similarity.hyperplaneBucket(col("embedding"), planes)
          .as("bucket"),
        array_join(col("embedding").cast("array<string>"), ",").as("v"))
    }))

  /** DuckDB oracle SQL per query (column names MUST match the Spark
    * result — the driver sorts columns by name and hashes values).
    * `__OUT__` is replaced by Verify with the absolute dump directory,
    * letting an oracle re-derive a result from another query's dumped
    * parquet (see d3_simhash_pairs). */
  def oracleSql: Map[String, String] = Map(
    // Re-derives the full candidate-generation + scoring pipeline from
    // the dumped sketches: 4×16-bit pigeonhole blocks, per-bucket
    // all-pairs when the bucket is in-cap, member→keeper star when
    // over-cap, hamming via bit_count(xor), min over colliding blocks.
    // (sh >> k) & 65535 is shift-direction-insensitive to sign
    // semantics because the mask keeps only the real 16 bits.
    "d3_simhash_pairs" ->
      """WITH sk AS (
        |  SELECT doc_id AS id, sh
        |  FROM read_parquet('__OUT__/d3s_simhash_sketches/*.parquet')),
        |blocks AS (
        |  SELECT id, sh, b.block, ((sh >> (b.block * 16)) & 65535) AS sig
        |  FROM sk CROSS JOIN (SELECT unnest([0,1,2,3]) AS block) b),
        |sized AS (
        |  SELECT id, sh, block, sig,
        |    count(*) OVER (PARTITION BY block, sig) AS n,
        |    min(id)  OVER (PARTITION BY block, sig) AS keeper,
        |    first_value(sh) OVER (PARTITION BY block, sig ORDER BY id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS keeper_sh
        |  FROM blocks),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    bit_count(xor(a.sh, b.sh)) AS hamming
        |  FROM sized a JOIN sized b
        |    ON a.block = b.block AND a.sig = b.sig AND a.id < b.id
        |  WHERE a.n BETWEEN 2 AND 64
        |  UNION ALL
        |  SELECT keeper AS id_a, id AS id_b,
        |    bit_count(xor(keeper_sh, sh)) AS hamming
        |  FROM sized WHERE n > 64 AND id <> keeper)
        |SELECT id_a, id_b, CAST(min(hamming) AS INT) AS hamming
        |FROM pairs WHERE hamming <= 3
        |GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin,
    // Re-derives MinHash-LSH pair generation + rescoring from the
    // dumped sketches and band rows: bucket sizing, in-cap all-pairs vs
    // over-cap member→keeper star, cross-band candidate dedup, and the
    // estimated-jaccard rescore (positionwise sketch agreement / 64 —
    // n/64 is exact in binary, so no float-compare risk).
    "d2_minhash_pairs" ->
      """WITH sk AS (
        |  SELECT id, list_transform(string_split(mh, ','),
        |    x -> CAST(x AS BIGINT)) AS mh
        |  FROM read_parquet('__OUT__/d2s_minhash_sketches/*.parquet')),
        |bands AS (
        |  SELECT id, band, sig
        |  FROM read_parquet('__OUT__/d2s_minhash_bands/*.parquet')),
        |sized AS (
        |  SELECT id, band, sig,
        |    count(*) OVER (PARTITION BY band, sig) AS n,
        |    min(id)  OVER (PARTITION BY band, sig) AS keeper
        |  FROM bands),
        |cand AS (
        |  SELECT DISTINCT id_a, id_b FROM (
        |    SELECT a.id AS id_a, b.id AS id_b
        |    FROM sized a JOIN sized b
        |      ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
        |    WHERE a.n BETWEEN 2 AND 64
        |    UNION ALL
        |    SELECT keeper AS id_a, id AS id_b
        |    FROM sized WHERE n > 64 AND id <> keeper)),
        |scored AS (
        |  SELECT id_a, id_b,
        |    list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN sa.mh[i] = sb.mh[i] THEN 1 ELSE 0 END)) / 64.0
        |      AS est_jaccard
        |  FROM cand
        |  JOIN sk sa ON sa.id = cand.id_a
        |  JOIN sk sb ON sb.id = cand.id_b)
        |SELECT id_a, id_b, est_jaccard FROM scored
        |WHERE est_jaccard >= 0.7 ORDER BY id_a, id_b""".stripMargin,
    // d4 = the same LSH candidates at threshold 0.5, re-scored with the
    // EXACT word-3-gram jaccard from the dumped sets (sets are already
    // distinct, so intersect/union-distinct over the lists is the set
    // measure; two empty sets → 1.0 as in the Scala kernel).
    "d4_ngram_jaccard" ->
      """WITH sk AS (
        |  SELECT id, list_transform(string_split(mh, ','),
        |    x -> CAST(x AS BIGINT)) AS mh
        |  FROM read_parquet('__OUT__/d2s_minhash_sketches/*.parquet')),
        |bands AS (
        |  SELECT id, band, sig
        |  FROM read_parquet('__OUT__/d2s_minhash_bands/*.parquet')),
        |ng AS (
        |  SELECT id, CASE WHEN ng = '' THEN []::BIGINT[]
        |    ELSE list_transform(string_split(ng, ','),
        |      x -> CAST(x AS BIGINT)) END AS ng
        |  FROM read_parquet('__OUT__/d4s_ngram_sets/*.parquet')),
        |sized AS (
        |  SELECT id, band, sig,
        |    count(*) OVER (PARTITION BY band, sig) AS n,
        |    min(id)  OVER (PARTITION BY band, sig) AS keeper
        |  FROM bands),
        |cand AS (
        |  SELECT DISTINCT id_a, id_b FROM (
        |    SELECT a.id AS id_a, b.id AS id_b
        |    FROM sized a JOIN sized b
        |      ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
        |    WHERE a.n BETWEEN 2 AND 64
        |    UNION ALL
        |    SELECT keeper AS id_a, id AS id_b
        |    FROM sized WHERE n > 64 AND id <> keeper)),
        |lsh AS (
        |  SELECT id_a, id_b FROM cand
        |  JOIN sk sa ON sa.id = cand.id_a
        |  JOIN sk sb ON sb.id = cand.id_b
        |  WHERE list_sum(list_transform(range(1, 65), i ->
        |    CASE WHEN sa.mh[i] = sb.mh[i] THEN 1 ELSE 0 END)) / 64.0 >= 0.5),
        |scored AS (
        |  SELECT id_a, id_b,
        |    round(CASE WHEN len(na.ng) = 0 AND len(nb.ng) = 0 THEN 1.0
        |      ELSE len(list_intersect(na.ng, nb.ng)) * 1.0 /
        |        len(list_distinct(list_concat(na.ng, nb.ng))) END, 6)
        |      AS jaccard
        |  FROM lsh JOIN ng na ON na.id = lsh.id_a
        |           JOIN ng nb ON nb.id = lsh.id_b)
        |SELECT id_a, id_b, jaccard FROM scored
        |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin,
    // m2 = pure arithmetic downstream of m1's (real) metadata: stride-4
    // frame explode (DuckDB range() is stop-exclusive, Spark sequence()
    // is stop-inclusive — range stop = n_frames aligns them; both emit
    // NO rows for 0-frame media) and the 224-box resize plan with
    // no-upscale clamp.
    "m2_frame_sample" ->
      """WITH meta AS (
        |  SELECT id, width, height, n_frames
        |  FROM read_parquet('__OUT__/m1_media_meta/*.parquet')),
        |frames AS (
        |  SELECT id, width, height,
        |    unnest(range(0, greatest(n_frames, 0), 4)) AS frame_idx
        |  FROM meta),
        |planned AS (
        |  SELECT id, frame_idx,
        |    CAST(id AS VARCHAR) || ':' || CAST(frame_idx AS VARCHAR)
        |      AS frame_key,
        |    round(least(224.0 / greatest(width, 1),
        |                224.0 / greatest(height, 1), 1.0), 6) AS scale,
        |    width, height
        |  FROM frames)
        |SELECT id, CAST(frame_idx AS INT) AS frame_idx, frame_key, scale,
        |  CAST(floor(width * scale) AS INT) AS out_w,
        |  CAST(floor(height * scale) AS INT) AS out_h
        |FROM planned ORDER BY id, frame_idx""".stripMargin,
    // Full SQL re-derivation of the langid heuristic (TextOps
    // .languageIdImpl): 4000-char sample, CJK-share zh branch, runs of
    // non-letters tokenized, marker hit-rate with lexicographic
    // tie-break and the 2% threshold. Java split keeps a leading empty
    // token but drops trailing empties — the ntok CASE replicates that.
    // Validated per-doc against the UDF at sf0.001/0.01/0.1 (0
    // mismatches; corpus is BMP-only so codepoint≡UTF-16 sampling).
    "t2_langid" ->
      """WITH d AS (
        |  SELECT doc_id, lang, substring(coalesce(text,''), 1, 4000) AS s
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, lang, s,
        |    length(regexp_replace(s, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS cjk,
        |    length(regexp_replace(s, '[^\p{L}]', '', 'g')) AS letters,
        |    regexp_split_to_array(lower(s), '[^\p{L}]+') AS toks
        |  FROM d),
        |tok AS (
        |  SELECT doc_id, lang, s, cjk, letters,
        |    len(toks) - (CASE WHEN len(toks) > 1 AND toks[-1] = ''
        |                 THEN 1 ELSE 0 END) AS ntok,
        |    len(list_filter(toks, t -> t IN ('der','die','das','und','ist',
        |      'nicht','ein','eine','mit','von','zu','den','im','für','auf')))
        |      AS hits_de,
        |    len(list_filter(toks, t -> t IN ('the','and','of','to','is','in',
        |      'that','it','with','was','for','are','this','have','from')))
        |      AS hits_en,
        |    len(list_filter(toks, t -> t IN ('el','la','los','las','de','del',
        |      'que','y','en','un','una','es','por','con','para'))) AS hits_es,
        |    len(list_filter(toks, t -> t IN ('le','la','les','des','et','est',
        |      'une','dans','que','pour','sur','avec','pas','au','du')))
        |      AS hits_fr
        |  FROM feat),
        |pred AS (
        |  SELECT lang,
        |    CASE WHEN s = '' THEN 'und'
        |      WHEN letters > 0 AND cjk * 10 >= letters THEN 'zh'
        |      WHEN greatest(hits_de, hits_en, hits_es, hits_fr) * 50 < ntok
        |        THEN 'und'
        |      WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr)
        |        THEN 'de'
        |      WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr)
        |        THEN 'en'
        |      WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr)
        |        THEN 'es'
        |      ELSE 'fr' END AS predicted
        |  FROM tok)
        |SELECT lang, predicted, count(*) AS n FROM pred
        |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "a9_rollup" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |  count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events
        |GROUP BY ROLLUP (event_type, day)
        |ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin,
    "a8_percentiles" ->
      """SELECT lang, round(quantile_cont(n_chars, 0.5), 6) AS p50,
        |  round(quantile_cont(n_chars, 0.95), 6) AS p95,
        |  count(*) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "w5_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
        |      ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |numbered AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_no
        |  FROM flagged)
        |SELECT user_id, sess_no, min(ts) AS sess_start, max(ts) AS sess_end,
        |  count(*) AS n_events
        |FROM numbered GROUP BY user_id, sess_no
        |ORDER BY user_id, sess_no""".stripMargin,
    "j3_range_context" ->
      """SELECT e.event_id, e.user_id,
        |  CAST(count(o.user_id) AS BIGINT) AS n_ctx
        |FROM events e LEFT JOIN events o
        |  ON o.user_id = e.user_id AND o.event_type <> 'error'
        |  AND epoch_us(o.ts) BETWEEN epoch_us(e.ts) - 300000000
        |    AND epoch_us(e.ts)
        |WHERE e.event_type = 'error'
        |GROUP BY e.event_id, e.user_id ORDER BY e.event_id""".stripMargin,
    "j2_asof_join" ->
      """SELECT l.event_id, l.user_id,
        |  r.event_id AS last_error_id, r.value AS last_error_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type <> 'error') l
        |ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
        |                WHERE event_type = 'error') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,
    // j2r is semantically IDENTICAL to j2 (the ranged split is purely a
    // physical-plan change) — same oracle, independently matched.
    "j2r_asof_ranged" ->
      """SELECT l.event_id, l.user_id,
        |  r.event_id AS last_error_id, r.value AS last_error_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type <> 'error') l
        |ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
        |                WHERE event_type = 'error') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,
    // Full SQL re-derivation of the winnowing fingerprint
    // (TextOps.fingerprintImpl): ws-normalize + lower, 8-gram
    // Rabin-Karp hashes computed positionally as polynomials mod 2^64
    // (HUGEINT arithmetic; the inline constants are B^7..B^0 mod 2^64
    // for B=1000003 — the closed form of the rolling recurrence),
    // signed-BIGINT window-of-4 minima, rotate-left by (j%63)+1, and
    // XOR fold. Docs shorter than 8 chars take Java String.hashCode
    // (32-bit wraparound, sign-extended). Validated per-doc against the
    // UDF at sf0.001/0.01 (0 mismatches).
    // NOTE trim set: Java String.trim strips EVERY char ≤ U+0020 at the
    // edges, not just spaces — the chr(1..32) set replicates that
    // (NUL excluded: DuckDB strings can't hold it; Java-side it cannot
    // survive parquet text either).
    "t3_fingerprint" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    trim(lower(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')),
        |      concat_ws('', list_transform(range(1, 33), i -> chr(CAST(i AS INT)))))
        |      AS s
        |  FROM documents WHERE text IS NOT NULL),
        |base AS (SELECT doc_id, s, length(s) AS n FROM d),
        |short AS (
        |  SELECT doc_id,
        |    CASE WHEN n = 0 THEN 0::BIGINT
        |    ELSE CAST(CASE WHEN hm >= 2147483648::HUGEINT
        |      THEN hm - 4294967296::HUGEINT ELSE hm END AS BIGINT)
        |    END AS fp
        |  FROM (
        |    SELECT doc_id, n,
        |      CASE WHEN n = 0 THEN 0::HUGEINT ELSE list_reduce(
        |        list_prepend(0::HUGEINT,
        |          list_transform(range(1, n + 1), i -> unicode(s[i:i])::HUGEINT)),
        |        (h, c) -> (h * 31 + c) % 4294967296::HUGEINT) END AS hm
        |    FROM base WHERE n < 8)),
        |longdocs AS (
        |  SELECT doc_id,
        |    list_transform(range(1, n - 6), i ->
        |      CAST(CASE WHEN (((unicode(s[i+0:i+0])::HUGEINT * 12924618581234127435::HUGEINT) + (unicode(s[i+1:i+1])::HUGEINT * 10923514805226455897::HUGEINT) + (unicode(s[i+2:i+2])::HUGEINT * 14453212906556403763::HUGEINT) + (unicode(s[i+3:i+3])::HUGEINT * 14003818205314896721::HUGEINT) + (unicode(s[i+4:i+4])::HUGEINT * 1000009000027000027::HUGEINT) + (unicode(s[i+5:i+5])::HUGEINT * 1000006000009::HUGEINT) + (unicode(s[i+6:i+6])::HUGEINT * 1000003::HUGEINT) + (unicode(s[i+7:i+7])::HUGEINT * 1::HUGEINT)) % 18446744073709551616::HUGEINT) >= 9223372036854775808::HUGEINT
        |        THEN (((unicode(s[i+0:i+0])::HUGEINT * 12924618581234127435::HUGEINT) + (unicode(s[i+1:i+1])::HUGEINT * 10923514805226455897::HUGEINT) + (unicode(s[i+2:i+2])::HUGEINT * 14453212906556403763::HUGEINT) + (unicode(s[i+3:i+3])::HUGEINT * 14003818205314896721::HUGEINT) + (unicode(s[i+4:i+4])::HUGEINT * 1000009000027000027::HUGEINT) + (unicode(s[i+5:i+5])::HUGEINT * 1000006000009::HUGEINT) + (unicode(s[i+6:i+6])::HUGEINT * 1000003::HUGEINT) + (unicode(s[i+7:i+7])::HUGEINT * 1::HUGEINT)) % 18446744073709551616::HUGEINT) - 18446744073709551616::HUGEINT
        |        ELSE (((unicode(s[i+0:i+0])::HUGEINT * 12924618581234127435::HUGEINT) + (unicode(s[i+1:i+1])::HUGEINT * 10923514805226455897::HUGEINT) + (unicode(s[i+2:i+2])::HUGEINT * 14453212906556403763::HUGEINT) + (unicode(s[i+3:i+3])::HUGEINT * 14003818205314896721::HUGEINT) + (unicode(s[i+4:i+4])::HUGEINT * 1000009000027000027::HUGEINT) + (unicode(s[i+5:i+5])::HUGEINT * 1000006000009::HUGEINT) + (unicode(s[i+6:i+6])::HUGEINT * 1000003::HUGEINT) + (unicode(s[i+7:i+7])::HUGEINT * 1::HUGEINT)) % 18446744073709551616::HUGEINT) END AS BIGINT)) AS gl
        |  FROM base WHERE n >= 8),
        |winnowed AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0::BIGINT,
        |      CASE WHEN len(gl) < 4 THEN []::BIGINT[]
        |      ELSE list_transform(range(0, (len(gl) - 4) // 4 + 1), w -> CAST(CASE WHEN (((CASE WHEN (list_min(gl[w*4+1 : w*4+4])) < 0 THEN (list_min(gl[w*4+1 : w*4+4]))::HUGEINT + 18446744073709551616::HUGEINT ELSE (list_min(gl[w*4+1 : w*4+4]))::HUGEINT END) << (((w*4) % 63) + 1)) | ((CASE WHEN (list_min(gl[w*4+1 : w*4+4])) < 0 THEN (list_min(gl[w*4+1 : w*4+4]))::HUGEINT + 18446744073709551616::HUGEINT ELSE (list_min(gl[w*4+1 : w*4+4]))::HUGEINT END) >> (64 - (((w*4) % 63) + 1)))) % 18446744073709551616::HUGEINT >= 9223372036854775808::HUGEINT THEN ((((CASE WHEN (list_min(gl[w*4+1 : w*4+4])) < 0 THEN (list_min(gl[w*4+1 : w*4+4]))::HUGEINT + 18446744073709551616::HUGEINT ELSE (list_min(gl[w*4+1 : w*4+4]))::HUGEINT END) << (((w*4) % 63) + 1)) | ((CASE WHEN (list_min(gl[w*4+1 : w*4+4])) < 0 THEN (list_min(gl[w*4+1 : w*4+4]))::HUGEINT + 18446744073709551616::HUGEINT ELSE (list_min(gl[w*4+1 : w*4+4]))::HUGEINT END) >> (64 - (((w*4) % 63) + 1)))) % 18446744073709551616::HUGEINT) - 18446744073709551616::HUGEINT ELSE ((((CASE WHEN (list_min(gl[w*4+1 : w*4+4])) < 0 THEN (list_min(gl[w*4+1 : w*4+4]))::HUGEINT + 18446744073709551616::HUGEINT ELSE (list_min(gl[w*4+1 : w*4+4]))::HUGEINT END) << (((w*4) % 63) + 1)) | ((CASE WHEN (list_min(gl[w*4+1 : w*4+4])) < 0 THEN (list_min(gl[w*4+1 : w*4+4]))::HUGEINT + 18446744073709551616::HUGEINT ELSE (list_min(gl[w*4+1 : w*4+4]))::HUGEINT END) >> (64 - (((w*4) % 63) + 1)))) % 18446744073709551616::HUGEINT) END AS BIGINT)) END),
        |      (a, b) -> xor(a, b)) AS fp
        |  FROM longdocs)
        |SELECT doc_id, fp FROM short UNION ALL
        |SELECT doc_id, fp FROM winnowed ORDER BY doc_id""".stripMargin,
    "t4_token_histogram" ->
      """SELECT token, n FROM (
        |  SELECT token, count(*) AS n FROM (
        |    SELECT unnest(regexp_split_to_array(text,
        |      '[ \t\n\x0B\f\r]+')) AS token
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE token <> '' GROUP BY token)
        |ORDER BY n DESC, token LIMIT 200""".stripMargin,
    "p1_filter_project" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang IN ('es','en') AND n_chars > 500
        |ORDER BY doc_id""".stripMargin,
    "a1_gated_avg" ->
      """SELECT event_type,
        |  ROUND(SUM(CASE WHEN value > 60.0 THEN value ELSE 0.0 END)
        |        / GREATEST(1, COUNT(CASE WHEN value > 60.0 THEN 1 END)), 4)
        |    AS gated_avg,
        |  COUNT(CASE WHEN value > 60.0 THEN 1 END) AS n_over
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "f7_ts_format" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_fmt,
        |  strftime(ts, '%d/%m/%Y') AS ts_date
        |FROM events ORDER BY event_id""".stripMargin,
    "w3_truncate" ->
      """SELECT doc_id,
        |  regexp_replace(substr(text, 1, 500),
        |    '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g') AS sample,
        |  LENGTH(regexp_replace(substr(text, 1, 500),
        |    '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g')) AS sample_len
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,
    "f10_size_mb" ->
      """SELECT doc_id, octet_length(encode(text)) AS bytes,
        |  FLOOR(octet_length(encode(text)) / 1048576.0 * 1000000.0 + 0.5)
        |    / 1000000.0 AS size_mb
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,
    "a3_argmax" ->
      """SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC, event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "w1_first_k" ->
      """SELECT event_type, event_id, rn FROM (
        |  SELECT event_type, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin,
    "j1_join_agg" ->
      """SELECT c_mktsegment, ROUND(SUM(o_totalprice), 2) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "d1_exact_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents
        |  WHERE doc_id % 11 = 0 AND text IS NOT NULL)
        |SELECT md5(text) AS text_md5, MIN(doc_id) AS keeper,
        |  COUNT(*) AS n_docs
        |FROM corpus GROUP BY 1 ORDER BY keeper""".stripMargin,
    "t1_text_stats" ->
      ("""WITH t AS (SELECT doc_id, regexp_replace(text, '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g') AS tx, text FROM documents
        |  WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, tx, text,
        |  LENGTH(tx) AS n_chars,
        |  CASE WHEN LENGTH(tx) = 0 THEN 0
        |       ELSE LENGTH(regexp_split_to_array(tx, '[ \t\n\x0B\f\r]+')) END AS n_tokens,
        |  LENGTH(regexp_extract_all(text,
        |    '""" + ocrspark.ops.TextOps.BpeTokenRegex + """', 0)) AS bpe_tokens,
        |  LENGTH(tx) - LENGTH(regexp_replace(tx, '[\.,;:!\?\|#"'']', '', 'g')) AS punct,
        |  LENGTH(tx) - LENGTH(regexp_replace(tx, '[A-ZÁÉÍÓÚÑÜ]', '', 'g')) AS upper_c,
        |  LENGTH(regexp_extract_all(tx,
        |    '(?i)\b(""" + ocrspark.ops.TextOps.Stopwords.mkString("|") + """)\b', 0)) AS stops
        |FROM t),
        |c AS (SELECT doc_id, n_chars, n_tokens AS ws_tokens, bpe_tokens,
        |  n_tokens,
        |  FLOOR(punct * 1.0 / GREATEST(1, n_chars) * 1000000 + 0.5) / 1000000.0 AS punct_ratio,
        |  FLOOR(upper_c * 1.0 / GREATEST(1, n_chars) * 1000000 + 0.5) / 1000000.0 AS upper_ratio,
        |  FLOOR(stops * 1.0 / GREATEST(1, n_tokens) * 1000000 + 0.5) / 1000000.0 AS stopword_ratio,
        |  FLOOR(n_chars * 1.0 / GREATEST(1, n_tokens) * 1000000 + 0.5) / 1000000.0 AS mean_token_len
        |FROM b)
        |SELECT doc_id, ws_tokens, bpe_tokens, n_chars, n_tokens,
        |  punct_ratio, upper_ratio, stopword_ratio, mean_token_len,
        |  FLOOR((
        |    LEAST(n_chars / 400.0, 1.0) * 0.3 +
        |    (CASE WHEN punct_ratio <= 0.1 THEN 1.0
        |          ELSE GREATEST(0.0, 1.0 - (punct_ratio - 0.1) * 5.0) END) * 0.2 +
        |    LEAST(stopword_ratio * 5.0, 1.0) * 0.3 +
        |    (CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 12.0
        |          THEN 1.0 ELSE 0.3 END) * 0.2) * 1000000 + 0.5) / 1000000.0 AS quality
        |FROM c ORDER BY doc_id""").stripMargin,
    "c1_curate" ->
      ("""WITH t AS (SELECT doc_id, lang, regexp_replace(text, '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g') AS tx, text FROM documents
        |  WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, lang, text,
        |  LENGTH(tx) AS n_chars,
        |  CASE WHEN LENGTH(tx) = 0 THEN 0
        |       ELSE LENGTH(regexp_split_to_array(tx, '[ \t\n\x0B\f\r]+')) END AS n_tokens,
        |  LENGTH(tx) - LENGTH(regexp_replace(tx, '[\.,;:!\?\|#"'']', '', 'g')) AS punct,
        |  LENGTH(regexp_extract_all(tx,
        |    '(?i)\b(""" + ocrspark.ops.TextOps.Stopwords.mkString("|") + """)\b', 0)) AS stops
        |FROM t),
        |c AS (SELECT doc_id, lang, text, n_chars, n_tokens,
        |  FLOOR(punct * 1.0 / GREATEST(1, n_chars) * 1000000 + 0.5) / 1000000.0 AS punct_ratio,
        |  FLOOR(stops * 1.0 / GREATEST(1, n_tokens) * 1000000 + 0.5) / 1000000.0 AS stopword_ratio,
        |  FLOOR(n_chars * 1.0 / GREATEST(1, n_tokens) * 1000000 + 0.5) / 1000000.0 AS mean_token_len
        |FROM b),
        |q AS (SELECT doc_id, lang, text,
        |  FLOOR((
        |    LEAST(n_chars / 400.0, 1.0) * 0.3 +
        |    (CASE WHEN punct_ratio <= 0.1 THEN 1.0
        |          ELSE GREATEST(0.0, 1.0 - (punct_ratio - 0.1) * 5.0) END) * 0.2 +
        |    LEAST(stopword_ratio * 5.0, 1.0) * 0.3 +
        |    (CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 12.0
        |          THEN 1.0 ELSE 0.3 END) * 0.2) * 1000000 + 0.5) / 1000000.0 AS quality
        |FROM c)
        |SELECT doc_id, lang, quality FROM (
        |  SELECT doc_id, lang, quality,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM q WHERE quality >= 0.5) WHERE rn = 1
        |ORDER BY doc_id""").stripMargin,
    "s2_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    ROUND(list_cosine_similarity(
        |      CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6)
        |      AS cosine
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cosine, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "w2_topn" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "set2_union_distinct" ->
      """SELECT DISTINCT user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id FROM events WHERE value > 90.0)
        |ORDER BY user_id""".stripMargin,
    "set3_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT user_id FROM events WHERE value > 90.0
        |ORDER BY user_id""".stripMargin,
    "set1_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    // s3 re-derived from the dumped bucket assignments + probe lists:
    // probe-join candidate generation, multiprobe dedup (DISTINCT — a
    // no-op on unique ids: a corpus row has one bucket and a query's
    // probes are distinct, so Spark joins each pair once and has no
    // dedup step), exact cosine from the embeddings table, rank ≤ k.
    "s3_lsh_topk" ->
      """WITH cb AS (
        |  SELECT id, bucket
        |  FROM read_parquet('__OUT__/s3s_buckets/*.parquet')),
        |qp AS (
        |  SELECT query_id,
        |    CAST(unnest(string_split(probes, ',')) AS BIGINT) AS bucket
        |  FROM read_parquet('__OUT__/s3s_probes/*.parquet')),
        |cand AS (
        |  SELECT DISTINCT qp.query_id, cb.id AS neighbor_id
        |  FROM qp JOIN cb USING (bucket)
        |  WHERE cb.id <> qp.query_id),
        |scored AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    ROUND(list_cosine_similarity(
        |      CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])),
        |      6) AS cosine
        |  FROM cand c
        |  JOIN embeddings q ON q.vec_id = c.query_id
        |  JOIN embeddings n ON n.vec_id = c.neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cosine, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // s4 re-derived from the dumped cell assignments + probe lists (no
    // DISTINCT: k-means cells are disjoint, so a neighbor appears in at
    // most one probed cell — same as the Spark plan, which has no dedup).
    "s4_ivf_topk" ->
      """WITH cc AS (
        |  SELECT id, cell
        |  FROM read_parquet('__OUT__/s4s_cells/*.parquet')),
        |qp AS (
        |  SELECT query_id,
        |    CAST(unnest(string_split(cells, ',')) AS INT) AS cell
        |  FROM read_parquet('__OUT__/s4s_probes/*.parquet')),
        |scored AS (
        |  SELECT qp.query_id, cc.id AS neighbor_id,
        |    ROUND(list_cosine_similarity(
        |      CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])),
        |      6) AS cosine
        |  FROM qp JOIN cc USING (cell)
        |  JOIN embeddings q ON q.vec_id = qp.query_id
        |  JOIN embeddings n ON n.vec_id = cc.id
        |  WHERE cc.id <> qp.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cosine, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // d5 re-derived from the dumped (id, bucket, vector) corpus: bucket
    // sizing, in-cap all-pairs vs over-cap member→keeper star (keeper =
    // min id, cap 64 as in Dedup.MaxBucketSize), cosine in DOUBLE over
    // exact FLOAT values (CAST via FLOAT first — a direct
    // string→DOUBLE cast would diverge from the float the engine saw),
    // floor-half-up rounding, threshold 0.99.
    "d5_embed_neardup" ->
      """WITH c AS (
        |  SELECT id, bucket,
        |    list_transform(string_split(v, ','),
        |      x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS v
        |  FROM read_parquet('__OUT__/d5s_corpus/*.parquet')),
        |sized AS (
        |  SELECT id, bucket, v,
        |    count(*) OVER (PARTITION BY bucket) AS n,
        |    min(id)  OVER (PARTITION BY bucket) AS keeper,
        |    first_value(v) OVER (PARTITION BY bucket ORDER BY id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS keeper_v
        |  FROM c),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    floor(list_cosine_similarity(a.v, b.v) * 1e6 + 0.5) / 1e6
        |      AS cosine
        |  FROM sized a JOIN sized b
        |    ON a.bucket = b.bucket AND a.id < b.id
        |  WHERE a.n BETWEEN 2 AND 64
        |  UNION ALL
        |  SELECT keeper AS id_a, id AS id_b,
        |    floor(list_cosine_similarity(keeper_v, v) * 1e6 + 0.5) / 1e6
        |      AS cosine
        |  FROM sized WHERE n > 64 AND id <> keeper)
        |SELECT id_a, id_b, max(cosine) AS cosine FROM pairs
        |WHERE cosine >= 0.99
        |GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin,
    // f8 re-derived in SQL: the ENTIRE markdown template (header,
    // processing-info bullets with Python str(float) number rendering,
    // the field section in fieldPatterns insertion order with
    // title-cased keys, the fenced text block, footer timestamp)
    // re-assembled in DuckDB from the dumped e2e output + the f8s input
    // relay (warc_ts, payload size). Cross-checks the report generator
    // against the extraction stage character-for-character; pyNum ≡
    // "x.0 when whole else shortest-repr" holds in both engines.
    "f8_markdown_report" ->
      """WITH j AS (
        |  SELECT e.url, e.lang, e.text, e.fields, e.method, e.pages,
        |    i.warc_ts,
        |    regexp_extract(e.url, '([^/]*)$', 1) AS fname,
        |    floor(e.confidence * 100.0 + 0.5) / 100.0 AS conf2,
        |    floor(i.size_bytes / 1048576.0 * 100.0 + 0.5) / 100.0 AS szmb,
        |    CASE WHEN e.lang = 'es' THEN 'spa' WHEN e.lang = 'en' THEN 'eng'
        |         WHEN e.lang IS NULL THEN 'spa' ELSE e.lang END AS rlang
        |  FROM read_parquet('__OUT__/e2e_extract/*.parquet') e
        |  JOIN read_parquet('__OUT__/f8s_inputs/*.parquet') i
        |    ON e.url = i.url
        |), f AS (
        |  SELECT url, concat(
        |    CASE WHEN json_extract_string(fields, '$.carpeta_fiscal') IS NOT NULL
        |      THEN '- **Carpeta Fiscal**: ' || json_extract_string(fields, '$.carpeta_fiscal') || chr(10) ELSE '' END,
        |    CASE WHEN json_extract_string(fields, '$.expediente') IS NOT NULL
        |      THEN '- **Expediente**: ' || json_extract_string(fields, '$.expediente') || chr(10) ELSE '' END,
        |    CASE WHEN json_extract_string(fields, '$.fiscalia') IS NOT NULL
        |      THEN '- **Fiscalia**: ' || json_extract_string(fields, '$.fiscalia') || chr(10) ELSE '' END,
        |    CASE WHEN json_extract_string(fields, '$.distrito_fiscal') IS NOT NULL
        |      THEN '- **Distrito Fiscal**: ' || json_extract_string(fields, '$.distrito_fiscal') || chr(10) ELSE '' END,
        |    CASE WHEN json_extract_string(fields, '$.delito') IS NOT NULL
        |      THEN '- **Delito**: ' || json_extract_string(fields, '$.delito') || chr(10) ELSE '' END,
        |    CASE WHEN json_extract_string(fields, '$.imputado') IS NOT NULL
        |      THEN '- **Imputado**: ' || json_extract_string(fields, '$.imputado') || chr(10) ELSE '' END,
        |    CASE WHEN json_extract_string(fields, '$.agraviado') IS NOT NULL
        |      THEN '- **Agraviado**: ' || json_extract_string(fields, '$.agraviado') || chr(10) ELSE '' END,
        |    CASE WHEN json_extract_string(fields, '$.fecha') IS NOT NULL
        |      THEN '- **Fecha**: ' || json_extract_string(fields, '$.fecha') || chr(10) ELSE '' END,
        |    CASE WHEN json_extract_string(fields, '$.resolucion') IS NOT NULL
        |      THEN '- **Resolucion**: ' || json_extract_string(fields, '$.resolucion') || chr(10) ELSE '' END,
        |    CASE WHEN json_extract_string(fields, '$.juzgado') IS NOT NULL
        |      THEN '- **Juzgado**: ' || json_extract_string(fields, '$.juzgado') || chr(10) ELSE '' END,
        |    CASE WHEN json_extract_string(fields, '$.juez') IS NOT NULL
        |      THEN '- **Juez**: ' || json_extract_string(fields, '$.juez') || chr(10) ELSE '' END,
        |    CASE WHEN json_extract_string(fields, '$.fiscal') IS NOT NULL
        |      THEN '- **Fiscal**: ' || json_extract_string(fields, '$.fiscal') || chr(10) ELSE '' END
        |  ) AS frows FROM j
        |)
        |SELECT j.url,
        |  '# Procesamiento OCR - ' || j.fname || chr(10) || chr(10) ||
        |  '## Información del Procesamiento' || chr(10) ||
        |  '- **Archivo**: ' || j.fname || chr(10) ||
        |  '- **Método**: ' || j.method || chr(10) ||
        |  '- **Páginas**: ' || CAST(j.pages AS VARCHAR) || chr(10) ||
        |  '- **Tiempo**: 0.0s' || chr(10) ||
        |  '- **Confianza**: ' ||
        |    CASE WHEN j.conf2 = floor(j.conf2) THEN printf('%.1f', j.conf2)
        |         ELSE CAST(j.conf2 AS VARCHAR) END || '%' || chr(10) ||
        |  '- **Idioma**: ' || j.rlang || chr(10) ||
        |  '- **Tamaño**: ' ||
        |    CASE WHEN j.szmb = floor(j.szmb) THEN printf('%.1f', j.szmb)
        |         ELSE CAST(j.szmb AS VARCHAR) END || 'MB' || chr(10) ||
        |  chr(10) ||
        |  CASE WHEN f.frows <> ''
        |    THEN '## Campos Extraídos' || chr(10) || chr(10) || f.frows || chr(10)
        |    ELSE '' END ||
        |  '## Contenido Extraído' || chr(10) || chr(10) ||
        |  chr(96) || chr(96) || chr(96) || chr(10) ||
        |  coalesce(j.text, '') || chr(10) ||
        |  chr(96) || chr(96) || chr(96) || chr(10) || chr(10) ||
        |  '---' || chr(10) ||
        |  '*Procesado el ' || strftime(j.warc_ts, '%d/%m/%Y %H:%M:%S') || '*'
        |  AS report
        |FROM j JOIN f ON j.url = f.url
        |ORDER BY j.url""".stripMargin,
    // f9 re-derived in SQL: the /process response JSON envelope
    // (exact key order, Python-str number rendering, ISO timestamp,
    // Jackson string escaping for the text payload) re-assembled by
    // manual concatenation in DuckDB from the e2e dump + f8s relay.
    // extracted_fields relays the dump's own key-sorted JSON object
    // verbatim (it IS the same to_json serialization) and is omitted —
    // like the reference — when no fields fired.
    "f9_json_metadata" ->
      """WITH j AS (
        |  SELECT e.url, e.text, e.fields, e.method, e.pages, e.error,
        |    i.warc_ts,
        |    regexp_extract(e.url, '([^/]*)$', 1) AS fname,
        |    floor(e.confidence * 100.0 + 0.5) / 100.0 AS conf2,
        |    floor(i.size_bytes / 1048576.0 * 100.0 + 0.5) / 100.0 AS szmb,
        |    CASE WHEN e.lang = 'es' THEN 'spa' WHEN e.lang = 'en' THEN 'eng'
        |         WHEN e.lang IS NULL THEN 'spa' ELSE e.lang END AS rlang,
        |    -- Jackson string escaping, complete: the short named
        |    -- escapes (backslash, quote, n r t b f) plus every other
        |    -- C0 control as backslash-u00XX, uppercase hex (NUL
        |    -- excluded: cannot survive parquet text or DuckDB VARCHAR)
        |    replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(coalesce(e.text, ''),
        |      chr(92), chr(92) || chr(92)),
        |      chr(34), chr(92) || chr(34)),
        |      chr(10), chr(92) || 'n'),
        |      chr(13), chr(92) || 'r'),
        |      chr(9), chr(92) || 't'),
        |      chr(8), chr(92) || 'b'),
        |      chr(12), chr(92) || 'f'),
        |      chr(1), chr(92) || 'u0001'),
        |      chr(2), chr(92) || 'u0002'),
        |      chr(3), chr(92) || 'u0003'),
        |      chr(4), chr(92) || 'u0004'),
        |      chr(5), chr(92) || 'u0005'),
        |      chr(6), chr(92) || 'u0006'),
        |      chr(7), chr(92) || 'u0007'),
        |      chr(11), chr(92) || 'u000B'),
        |      chr(14), chr(92) || 'u000E'),
        |      chr(15), chr(92) || 'u000F'),
        |      chr(16), chr(92) || 'u0010'),
        |      chr(17), chr(92) || 'u0011'),
        |      chr(18), chr(92) || 'u0012'),
        |      chr(19), chr(92) || 'u0013'),
        |      chr(20), chr(92) || 'u0014'),
        |      chr(21), chr(92) || 'u0015'),
        |      chr(22), chr(92) || 'u0016'),
        |      chr(23), chr(92) || 'u0017'),
        |      chr(24), chr(92) || 'u0018'),
        |      chr(25), chr(92) || 'u0019'),
        |      chr(26), chr(92) || 'u001A'),
        |      chr(27), chr(92) || 'u001B'),
        |      chr(28), chr(92) || 'u001C'),
        |      chr(29), chr(92) || 'u001D'),
        |      chr(30), chr(92) || 'u001E'),
        |      chr(31), chr(92) || 'u001F') AS etext
        |  FROM read_parquet('__OUT__/e2e_extract/*.parquet') e
        |  JOIN read_parquet('__OUT__/f8s_inputs/*.parquet') i
        |    ON e.url = i.url
        |)
        |SELECT url,
        |  '{"success":' || CASE WHEN error IS NULL THEN 'true' ELSE 'false' END ||
        |  ',"filename":"' || fname ||
        |  '","pages_processed":' || CAST(pages AS VARCHAR) ||
        |  ',"processing_time":0.0' ||
        |  ',"processing_method":"' || method ||
        |  '","language":"' || rlang ||
        |  '","file_size_mb":' ||
        |    CASE WHEN szmb = floor(szmb) THEN printf('%.1f', szmb)
        |         ELSE CAST(szmb AS VARCHAR) END ||
        |  ',"confidence":' ||
        |    CASE WHEN conf2 = floor(conf2) THEN printf('%.1f', conf2)
        |         ELSE CAST(conf2 AS VARCHAR) END ||
        |  ',"timestamp":"' || strftime(warc_ts, '%Y-%m-%dT%H:%M:%S') ||
        |  '"' ||
        |  CASE WHEN fields <> '{}' THEN ',"extracted_fields":' || fields
        |       ELSE '' END ||
        |  ',"text":"' || etext || '"}' AS metadata_json
        |FROM j
        |ORDER BY url""".stripMargin,
    // m1b re-derived ENTIRELY from payload bytes in SQL: magic sniff,
    // fixed-offset PNG/GIF/BMP dims, the JPEG SOF segment walk and the
    // WAV chunk / MP4 box walks as recursive CTEs (each mirroring the
    // Scala parser step-for-step), and the sampled 31-polynomial
    // content hash in mod-2^64 HUGEINT arithmetic.
    "m1b_media_meta_nonpdf" -> mediaMetaOracleSql(includePdf = false),

    // M1: the full media table — same re-derivation, PDF rows
    // included; a PDF's n_frames (page count) is cross-checked
    // against the INDEPENDENT e2e_extract dump's `pages` column for
    // the same url (media_id = xxhash64(url)) — the 579-line PDF
    // parser's page count adjudicated against the full extraction
    // pipeline's own parse of the same payload.
    "m1_media_meta" -> mediaMetaOracleSql(includePdf = true),
    // e2e_extract adjudicated via __OUT__ self-consistency: url/lang/
    // bucket/media_id/text/fields/method/route/error relay from the dump
    // (text byte-identity is the golden suite's contract; bucket/media_id
    // are xxhash64, not reproducible in DuckDB), while the ENTIRE
    // confidence model is re-derived from the dumped text alone — the
    // OCR-path document is split back into per-page chunks on the
    // "--- Página N de T ---" separators, each chunk re-scored with the
    // deterministic page-confidence formula (0 for conversion-error
    // placeholders, 50.0 for blank pages, else min(97, 55+42·alnumRatio)
    // with Unicode letter/digit classes), the >60.0 gate re-applied in
    // page order with the max(1,·)-guarded average, and pages /
    // processed_pages / low_confidence_pages re-counted (pages for the
    // OCR path = separator count — every page emits exactly one). The
    // html path re-scores its whole text; text/upstream paths pin the
    // 95.0 constant. Any drift between the assembled text and the
    // confidence columns — in either direction — breaks the hash.
    "e2e_extract" ->
      """WITH e AS (
        |  SELECT * FROM read_parquet('__OUT__/e2e_extract/*.parquet')
        |), pc AS (
        |  SELECT url, pg, chunk,
        |    CASE WHEN chunk LIKE '[Error convirtiendo página%' THEN 0.0
        |         WHEN regexp_matches(chunk,
        |           '^[\t\n\x0b\f\r\x{1c}-\x{1f} \x{85}\x{a0}\x{1680}\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]*$')
        |           THEN 50.0
        |         ELSE least(97.0, 55.0
        |           + 42.0 * length(regexp_replace(chunk, '[^\p{L}\p{Nd}]', '', 'g'))
        |             / length(chunk))
        |    END AS conf
        |  FROM (
        |    SELECT url, unnest(parts[2:]) AS chunk,
        |      unnest(range(1, len(parts))) AS pg
        |    FROM (
        |      SELECT url, regexp_split_to_array(text,
        |        '\n\n--- Página \d+ de \d+ ---\n\n') AS parts
        |      FROM e WHERE method = 'advanced_ocr' AND error IS NULL
        |    )
        |  )
        |), dc AS (
        |  SELECT url,
        |    count(*) AS n_seps,
        |    count(*) FILTER (WHERE conf > 60.0) AS n_proc,
        |    list_reduce(
        |      list_prepend(0.0, list(conf ORDER BY pg) FILTER (WHERE conf > 60.0)),
        |      (a, b) -> a + b)
        |      / greatest(1, count(*) FILTER (WHERE conf > 60.0)) AS conf_avg
        |  FROM pc GROUP BY url
        |), hc AS (
        |  SELECT url,
        |    CASE WHEN regexp_matches(text,
        |           '^[\t\n\x0b\f\r\x{1c}-\x{1f} \x{85}\x{a0}\x{1680}\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]*$')
        |           THEN 50.0
        |         ELSE least(97.0, 55.0
        |           + 42.0 * length(regexp_replace(text, '[^\p{L}\p{Nd}]', '', 'g'))
        |             / length(text))
        |    END AS conf
        |  FROM e WHERE method = 'html_extraction'
        |)
        |SELECT e.url, e.lang, e.bucket, e.media_id, e.text, e.fields,
        |  e.method, e.route, e.error,
        |  CAST(CASE WHEN e.method IN ('text_extraction_enhanced','upstream_text')
        |              THEN e.pages
        |            WHEN e.method = 'html_extraction' THEN 1
        |            WHEN e.method = 'advanced_ocr' AND e.error IS NULL
        |              THEN d.n_seps
        |            ELSE 0 END AS INT) AS pages,
        |  CASE WHEN e.method IN ('text_extraction_enhanced','upstream_text')
        |         THEN 95.0
        |       WHEN e.method = 'html_extraction' THEN h.conf
        |       WHEN e.method = 'advanced_ocr' AND e.error IS NULL
        |         THEN d.conf_avg
        |       ELSE 0.0 END AS confidence,
        |  CAST(CASE WHEN e.method = 'text_extraction_enhanced' THEN e.pages
        |            WHEN e.method = 'upstream_text' THEN 1
        |            WHEN e.method = 'html_extraction'
        |              THEN CASE WHEN h.conf > 60.0 THEN 1 ELSE 0 END
        |            WHEN e.method = 'advanced_ocr' AND e.error IS NULL
        |              THEN d.n_proc
        |            ELSE 0 END AS INT) AS processed_pages,
        |  CAST(CASE WHEN e.method = 'html_extraction'
        |              THEN CASE WHEN h.conf > 60.0 THEN 0 ELSE 1 END
        |            WHEN e.method = 'advanced_ocr' AND e.error IS NULL
        |              THEN d.n_seps - d.n_proc
        |            ELSE 0 END AS INT) AS low_confidence_pages
        |FROM e
        |LEFT JOIN dc d ON d.url = e.url
        |LEFT JOIN hc h ON h.url = e.url
        |ORDER BY e.url""".stripMargin,

    // p5c re-derived from the e2e_extract dump: the analyze fast path's
    // route counts must equal the full extraction's per-doc routes.
    "p5c_routing_counts" ->
      """SELECT route, count(*) AS n_docs
        |FROM read_parquet('__OUT__/e2e_extract/*.parquet')
        |GROUP BY route ORDER BY route""".stripMargin,
    // a5 re-derived from the e2e_extract dump: the batch counters are a
    // pure aggregation over the per-doc extraction output, so DuckDB
    // recomputing them from the dumped rows cross-checks the metrics
    // stage against the extraction stage.
    "a5_batch_summary" ->
      """SELECT CAST(count(*) AS BIGINT) AS docs_in,
        |  CAST(sum(CASE WHEN error IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS successful,
        |  CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS failed,
        |  CAST(sum(CASE WHEN route = 'text_extraction' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS route_text,
        |  CAST(sum(CASE WHEN route = 'hybrid' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS route_hybrid,
        |  CAST(sum(CASE WHEN route = 'ocr' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS route_ocr,
        |  CAST(sum(CASE WHEN method = 'html_extraction' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS route_html,
        |  CAST(sum(CAST(pages AS BIGINT)) AS BIGINT) AS total_pages,
        |  round(avg(confidence), 4) AS avg_confidence
        |FROM read_parquet('__OUT__/e2e_extract/*.parquet')""".stripMargin,
    // o12 re-derived from the e2e_extract dump: lineage must show
    // snapshot 1 for buckets <20 (committed by the first partial run), 2
    // for the rest, and per-bucket doc counts equal to the extraction
    // output's bucket histogram — an independent derivation because o12
    // runs its own two-phase incremental job against the lake while
    // e2e_extract is a one-shot batch over the same pages.
    "o12_resume_lineage" ->
      """SELECT bucket,
        |  CAST(CASE WHEN bucket < 20 THEN 1 ELSE 2 END AS BIGINT)
        |    AS snapshot_id,
        |  count(*) AS n_docs
        |FROM read_parquet('__OUT__/e2e_extract/*.parquet')
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
  )

  /** DuckDB re-derivation of the media-metadata table from the dumped
    * payload hex (m1s_payloads): magic-byte sniff, fixed-offset
    * PNG/GIF/BMP dims, TIFF IFD0 entry scan (both byte orders), the
    * JPEG SOF segment walk, the WAV chunk walk, the MP4 mvhd walk and
    * the moov→trak→mdia→minf→stbl→stts descent as recursive CTEs
    * (each mirroring the Scala parser step-for-step), and the sampled
    * 31-polynomial content hash in mod-2^64 HUGEINT arithmetic.
    * `includePdf=false` is the m1b slice; `includePdf=true` adds PDF
    * rows with n_frames taken from the e2e_extract dump (independent
    * cross-check of the PDF page count). */
  private def mediaMetaOracleSql(includePdf: Boolean): String = {
    // SQL fragments reading bytes out of the hex dump (1-based substr):
    // hb = unsigned byte at 0-based offset `pos`, u16/u32 in each order.
    def hb(pos: String): String =
      s"((strpos('0123456789ABCDEF', substr(hx, 2*($pos)+1, 1))-1)*16 + " +
        s"(strpos('0123456789ABCDEF', substr(hx, 2*($pos)+2, 1))-1))"
    def u16le(p: String) = s"(${hb(p)} + ${hb(s"($p)+1")}*256)"
    def u16be(p: String) = s"(${hb(p)}*256 + ${hb(s"($p)+1")})"
    def u32le(p: String) =
      s"(${hb(p)} + ${hb(s"($p)+1")}*256 + ${hb(s"($p)+2")}*65536 + ${hb(s"($p)+3")}*16777216)"
    def u32be(p: String) =
      s"(${hb(p)}*16777216 + ${hb(s"($p)+1")}*65536 + ${hb(s"($p)+2")}*256 + ${hb(s"($p)+3")})"
    // PDF rows (includePdf): n_frames = page count, cross-checked against
    // the e2e_extract dump's independent parse of the same payload.
    val pdfJoinLine =
      if (includePdf)
        "LEFT JOIN (SELECT media_id, pages\n        " +
          "|           FROM read_parquet('__OUT__/e2e_extract/*.parquet')) pd\n        " +
          "|  ON pd.media_id = k.id\n        |"
      else ""
    val pdfFramesLine =
      if (includePdf)
        "WHEN k.kind = 'application/pdf' THEN coalesce(pd.pages, 0)\n        |            "
      else ""
    val whereLine = if (includePdf) "" else "WHERE k.kind <> 'application/pdf'\n        |"
    s"""WITH RECURSIVE p AS (
        |  SELECT id, hx, n FROM read_parquet('__OUT__/m1s_payloads/*.parquet')
        |), k AS (
        |  SELECT id, hx, n,
        |    CASE
        |      WHEN n = 0 OR hx IS NULL THEN 'empty'
        |      WHEN n >= 4 AND substr(hx,1,4) = '8950' THEN 'image/png'
        |      WHEN n >= 3 AND substr(hx,1,4) = 'FFD8' THEN 'image/jpeg'
        |      WHEN n >= 4 AND substr(hx,1,8) = '47494638' THEN 'image/gif'
        |      WHEN n >= 4 AND (substr(hx,1,6) = '49492A' OR substr(hx,1,6) = '4D4D00')
        |        THEN 'image/tiff'
        |      WHEN n >= 2 AND substr(hx,1,4) = '424D' THEN 'image/bmp'
        |      WHEN n >= 12 AND substr(hx,1,8) = '52494646' THEN
        |        CASE WHEN substr(hx,17,6) = '574156' THEN 'audio/wav'
        |             WHEN substr(hx,17,6) = '415649' THEN 'video/avi'
        |             ELSE 'application/octet-stream' END
        |      WHEN n >= 12 AND substr(hx,9,8) = '66747970' THEN 'video/mp4'
        |      WHEN n >= 5 AND substr(hx,1,4) = '2550' THEN 'application/pdf'
        |      ELSE 'application/octet-stream'
        |    END AS kind
        |  FROM p
        |), hdr AS (
        |  -- first 64 bytes as an int list (1-based: b[i+1] = byte at offset i)
        |  SELECT id, kind, hx, n,
        |    list_transform(range(0, CAST(least(n, 64) AS INT)), p ->
        |      (strpos('0123456789ABCDEF', substr(hx, 2*p+1, 1)) - 1) * 16
        |      + (strpos('0123456789ABCDEF', substr(hx, 2*p+2, 1)) - 1)) AS b
        |  FROM k WHERE kind IN ('image/png','image/gif','image/bmp')
        |), fixdims AS (
        |  SELECT id,
        |    CASE
        |      WHEN kind = 'image/png' THEN
        |        CASE WHEN n >= 24 AND substr(hx,25,8) = '49484452'
        |          THEN [b[17]*16777216 + b[18]*65536 + b[19]*256 + b[20],
        |                b[21]*16777216 + b[22]*65536 + b[23]*256 + b[24]]
        |          ELSE [0, 0] END
        |      WHEN kind = 'image/gif' THEN
        |        CASE WHEN n >= 10
        |          THEN [b[7] + b[8]*256, b[9] + b[10]*256]
        |          ELSE [0, 0] END
        |      ELSE -- bmp
        |        CASE WHEN n >= 26 THEN
        |          CASE
        |            WHEN b[15] + b[16]*256 + b[17]*65536 + b[18]*16777216 >= 40 THEN
        |              [CASE WHEN b[19] + b[20]*256 + b[21]*65536 + b[22]*16777216 >= 2147483648
        |                    THEN b[19] + b[20]*256 + b[21]*65536 + b[22]*16777216 - 4294967296
        |                    ELSE b[19] + b[20]*256 + b[21]*65536 + b[22]*16777216 END,
        |               abs(CASE WHEN b[23] + b[24]*256 + b[25]*65536 + b[26]*16777216 >= 2147483648
        |                    THEN b[23] + b[24]*256 + b[25]*65536 + b[26]*16777216 - 4294967296
        |                    ELSE b[23] + b[24]*256 + b[25]*65536 + b[26]*16777216 END)]
        |            WHEN b[15] + b[16]*256 + b[17]*65536 + b[18]*16777216 = 12 AND n >= 22 THEN
        |              [b[19] + b[20]*256, b[21] + b[22]*256]
        |            ELSE [0, 0] END
        |          ELSE [0, 0] END
        |    END AS wh
        |  FROM hdr
        |), jw AS (
        |  -- JPEG SOF segment walk (mirrors Multimodal.jpegDims step-for-step;
        |  -- single-step fill-byte skipping is output-equivalent — see scaladoc)
        |  SELECT id, hx, n, 2::BIGINT AS pos, 0 AS st, 0::BIGINT AS w, 0::BIGINT AS h
        |  FROM k WHERE kind = 'image/jpeg'
        |  UNION ALL
        |  SELECT id, hx, n,
        |    CASE
        |      WHEN u1 = 255 THEN pos + 1
        |      WHEN u1 = 216 OR (u1 BETWEEN 208 AND 215) OR u1 = 1 THEN pos + 2
        |      WHEN (u1 BETWEEN 192 AND 207) AND u1 NOT IN (196, 200, 204) THEN pos
        |      ELSE pos + 2 + u2*256 + u3
        |    END AS pos,
        |    CASE
        |      WHEN u0 != 255 THEN 2 -- desynced: fail
        |      WHEN u1 = 255 OR u1 = 216 OR (u1 BETWEEN 208 AND 215) OR u1 = 1
        |        THEN CASE WHEN (CASE WHEN u1 = 255 THEN pos + 1 ELSE pos + 2 END) + 3 < n
        |             THEN 0 ELSE 2 END
        |      WHEN (u1 BETWEEN 192 AND 207) AND u1 NOT IN (196, 200, 204)
        |        THEN CASE WHEN pos + 8 < n THEN 1 ELSE 2 END
        |      ELSE CASE WHEN pos + 2 + u2*256 + u3 + 3 < n THEN 0 ELSE 2 END
        |    END AS st,
        |    CASE WHEN (u1 BETWEEN 192 AND 207) AND u1 NOT IN (196, 200, 204)
        |          AND u0 = 255 AND pos + 8 < n
        |         THEN u7*256 + u8 ELSE 0 END AS w,
        |    CASE WHEN (u1 BETWEEN 192 AND 207) AND u1 NOT IN (196, 200, 204)
        |          AND u0 = 255 AND pos + 8 < n
        |         THEN u5*256 + u6 ELSE 0 END AS h
        |  FROM (
        |    SELECT id, hx, n, pos,
        |      (strpos('0123456789ABCDEF', substr(hx, 2*pos+1, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+2, 1))-1) AS u0,
        |      (strpos('0123456789ABCDEF', substr(hx, 2*pos+3, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+4, 1))-1) AS u1,
        |      (strpos('0123456789ABCDEF', substr(hx, 2*pos+5, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+6, 1))-1) AS u2,
        |      (strpos('0123456789ABCDEF', substr(hx, 2*pos+7, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+8, 1))-1) AS u3,
        |      (strpos('0123456789ABCDEF', substr(hx, 2*pos+11, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+12, 1))-1) AS u5,
        |      (strpos('0123456789ABCDEF', substr(hx, 2*pos+13, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+14, 1))-1) AS u6,
        |      (strpos('0123456789ABCDEF', substr(hx, 2*pos+15, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+16, 1))-1) AS u7,
        |      (strpos('0123456789ABCDEF', substr(hx, 2*pos+17, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+18, 1))-1) AS u8,
        |      st, w, h
        |    FROM jw WHERE st = 0 AND pos + 3 < n
        |  )
        |), jdims AS (
        |  SELECT j.id,
        |    coalesce(max(CASE WHEN jw.st = 1 THEN jw.w END), 0) AS w,
        |    coalesce(max(CASE WHEN jw.st = 1 THEN jw.h END), 0) AS h
        |  FROM (SELECT DISTINCT id FROM k WHERE kind = 'image/jpeg') j
        |  LEFT JOIN jw ON jw.id = j.id
        |  GROUP BY j.id
        |), ww AS (
        |  -- WAV RIFF chunk walk (mirrors Multimodal.wavMeta)
        |  SELECT id, hx, n, 12::BIGINT AS pos,
        |    0::BIGINT AS rate, 0::BIGINT AS align, -1::BIGINT AS datab,
        |    CASE WHEN substr(hx,17,8) = '57415645' THEN 0 ELSE 1 END AS done
        |  FROM k WHERE kind = 'audio/wav'
        |  UNION ALL
        |  SELECT id, hx, n,
        |    pos + 8 + sz + (sz % 2) AS pos,
        |    CASE WHEN tag8 = '666D7420' AND sz >= 16 AND pos + 24 <= n
        |         THEN r2 ELSE rate END AS rate,
        |    CASE WHEN tag8 = '666D7420' AND sz >= 16 AND pos + 24 <= n
        |         THEN a2 ELSE align END AS align,
        |    CASE WHEN tag8 = '64617461' THEN sz ELSE datab END AS datab,
        |    CASE WHEN pos + 8 + sz + (sz % 2) > n THEN 1 ELSE 0 END AS done
        |  FROM (
        |    SELECT id, hx, n, pos, rate, align, datab,
        |      substr(hx, 2*pos+1, 8) AS tag8,
        |      (strpos('0123456789ABCDEF', substr(hx, 2*pos+9, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+10, 1))-1)
        |      + ((strpos('0123456789ABCDEF', substr(hx, 2*pos+11, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+12, 1))-1)) * 256
        |      + ((strpos('0123456789ABCDEF', substr(hx, 2*pos+13, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+14, 1))-1)) * 65536
        |      + ((strpos('0123456789ABCDEF', substr(hx, 2*pos+15, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+16, 1))-1)) * 16777216 AS sz,
        |      (strpos('0123456789ABCDEF', substr(hx, 2*pos+33, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+34, 1))-1)
        |      + ((strpos('0123456789ABCDEF', substr(hx, 2*pos+35, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+36, 1))-1)) * 256
        |      + ((strpos('0123456789ABCDEF', substr(hx, 2*pos+37, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+38, 1))-1)) * 65536
        |      + ((strpos('0123456789ABCDEF', substr(hx, 2*pos+39, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+40, 1))-1)) * 16777216 AS r2,
        |      (strpos('0123456789ABCDEF', substr(hx, 2*pos+41, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+42, 1))-1)
        |      + ((strpos('0123456789ABCDEF', substr(hx, 2*pos+43, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+44, 1))-1)) * 256 AS a2
        |    FROM ww WHERE done = 0 AND pos + 8 <= n
        |  )
        |), wmeta AS (
        |  SELECT w0.id,
        |    CASE WHEN f.rate > 0 AND f.align > 0 AND f.datab >= 0
        |         THEN least(f.datab // f.align, 2147483647) ELSE 0 END AS frames,
        |    CASE WHEN f.rate > 0 AND f.align > 0 AND f.datab >= 0
        |         THEN f.datab * 1000 // f.rate ELSE 0 END AS dur
        |  FROM (SELECT DISTINCT id FROM k WHERE kind = 'audio/wav') w0
        |  LEFT JOIN (
        |    SELECT id, arg_max(rate, pos) AS rate, arg_max(align, pos) AS align,
        |           arg_max(datab, pos) AS datab
        |    FROM ww GROUP BY id
        |  ) f ON f.id = w0.id
        |), traw AS (
        |  -- TIFF IFD0 scan (mirrors Multimodal.tiffDims; no recursion —
        |  -- IFD0 is a flat entry table at the header's u32 offset)
        |  SELECT id, hx, n, (substr(hx,1,2) = '49') AS lil,
        |    CASE WHEN substr(hx,1,2) = '49' THEN ${u32le("4")}
        |         ELSE ${u32be("4")} END AS ifd
        |  FROM k WHERE kind = 'image/tiff' AND n >= 8
        |), tent AS (
        |  SELECT id, e, lil, hx, n, ifd, ifd + 2 + 12*e AS ep
        |  FROM (
        |    SELECT id, hx, n, lil, ifd,
        |      unnest(range(CAST(CASE WHEN ifd >= 8 AND ifd + 2 <= n
        |        THEN (CASE WHEN lil THEN ${u16le("ifd")}
        |                   ELSE ${u16be("ifd")} END)
        |        ELSE 0 END AS BIGINT))) AS e
        |    FROM traw
        |  ) WHERE ifd + 2 + 12*(e+1) <= n
        |), tval AS (
        |  -- entry value accepted iff SHORT (u16 left-justified) or LONG
        |  -- within Int range — same acceptance rule as the Scala walk
        |  SELECT id, e,
        |    CASE WHEN lil THEN ${u16le("ep")} ELSE ${u16be("ep")} END AS tag,
        |    CASE WHEN typ = 3
        |           THEN CASE WHEN lil THEN ${u16le("(ep)+8")}
        |                     ELSE ${u16be("(ep)+8")} END
        |         WHEN typ = 4 AND (CASE WHEN lil THEN ${u32le("(ep)+8")}
        |                    ELSE ${u32be("(ep)+8")} END) <= 2147483647
        |           THEN CASE WHEN lil THEN ${u32le("(ep)+8")}
        |                     ELSE ${u32be("(ep)+8")} END
        |         ELSE NULL END AS val
        |  FROM (SELECT id, e, lil, hx, ep,
        |          CASE WHEN lil THEN ${u16le("(ep)+2")}
        |               ELSE ${u16be("(ep)+2")} END AS typ
        |        FROM tent)
        |), tdims AS (
        |  SELECT t0.id,
        |    CASE WHEN coalesce(tw.w, 0) > 0 AND coalesce(th.h, 0) > 0
        |         THEN tw.w ELSE 0 END AS w,
        |    CASE WHEN coalesce(tw.w, 0) > 0 AND coalesce(th.h, 0) > 0
        |         THEN th.h ELSE 0 END AS h
        |  FROM (SELECT DISTINCT id FROM k WHERE kind = 'image/tiff') t0
        |  LEFT JOIN (SELECT id, arg_max(val, e) AS w FROM tval
        |             WHERE tag = 256 AND val IS NOT NULL GROUP BY id) tw
        |    ON tw.id = t0.id
        |  LEFT JOIN (SELECT id, arg_max(val, e) AS h FROM tval
        |             WHERE tag = 257 AND val IS NOT NULL GROUP BY id) th
        |    ON th.id = t0.id
        |), mv1 AS (
        |  -- top-level box walk to moov (mirrors Multimodal.mp4Meta findBox)
        |  SELECT id, hx, n, 0::BIGINT AS pos, 0 AS st,
        |    0::BIGINT AS box, 0::BIGINT AS bend
        |  FROM k WHERE kind = 'video/mp4'
        |  UNION ALL
        |  SELECT id, hx, n,
        |    CASE WHEN tag8 = '6D6F6F76' THEN pos ELSE pos + sz END AS pos,
        |    CASE WHEN sz < 8 THEN 2
        |         WHEN tag8 = '6D6F6F76' THEN 1
        |         WHEN pos + sz + 8 <= n THEN 0 ELSE 2 END AS st,
        |    CASE WHEN sz >= 8 AND tag8 = '6D6F6F76' THEN pos ELSE 0 END AS box,
        |    CASE WHEN sz >= 8 AND tag8 = '6D6F6F76' THEN least(n, pos + sz) ELSE 0 END AS bend
        |  FROM (
        |    SELECT id, hx, n, pos,
        |      ((strpos('0123456789ABCDEF', substr(hx, 2*pos+1, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+2, 1))-1)) * 16777216
        |      + ((strpos('0123456789ABCDEF', substr(hx, 2*pos+3, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+4, 1))-1)) * 65536
        |      + ((strpos('0123456789ABCDEF', substr(hx, 2*pos+5, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+6, 1))-1)) * 256
        |      + ((strpos('0123456789ABCDEF', substr(hx, 2*pos+7, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+8, 1))-1)) AS sz,
        |      substr(hx, 2*pos+9, 8) AS tag8
        |    FROM mv1 WHERE st = 0 AND pos + 8 <= n
        |  )
        |), mv2 AS (
        |  -- inner walk moov+8 .. moovEnd to mvhd
        |  SELECT m.id, m.hx, m.n, m.box + 8 AS pos, 0 AS st,
        |    0::BIGINT AS box, m.bend AS lim, 0::BIGINT AS bend
        |  FROM (SELECT id, hx, n, arg_max(box, st) AS box, arg_max(bend, st) AS bend,
        |               max(st) AS fst FROM mv1 GROUP BY id, hx, n) m
        |  WHERE m.fst = 1
        |  UNION ALL
        |  SELECT id, hx, n,
        |    CASE WHEN tag8 = '6D766864' THEN pos ELSE pos + sz END AS pos,
        |    CASE WHEN sz < 8 THEN 2
        |         WHEN tag8 = '6D766864' THEN 1
        |         WHEN pos + sz + 8 <= lim THEN 0 ELSE 2 END AS st,
        |    CASE WHEN sz >= 8 AND tag8 = '6D766864' THEN pos ELSE 0 END AS box,
        |    lim,
        |    CASE WHEN sz >= 8 AND tag8 = '6D766864' THEN least(lim, pos + sz) ELSE 0 END AS bend
        |  FROM (
        |    SELECT id, hx, n, pos, lim,
        |      ((strpos('0123456789ABCDEF', substr(hx, 2*pos+1, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+2, 1))-1)) * 16777216
        |      + ((strpos('0123456789ABCDEF', substr(hx, 2*pos+3, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+4, 1))-1)) * 65536
        |      + ((strpos('0123456789ABCDEF', substr(hx, 2*pos+5, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+6, 1))-1)) * 256
        |      + ((strpos('0123456789ABCDEF', substr(hx, 2*pos+7, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*pos+8, 1))-1)) AS sz,
        |      substr(hx, 2*pos+9, 8) AS tag8
        |    FROM mv2 WHERE st = 0 AND pos + 8 <= lim
        |  )
        |), mmeta AS (
        |  SELECT m0.id,
        |    CASE WHEN f.fst = 1 AND f.need <= f.bend AND f.need <= f.n AND f.ts > 0
        |         THEN f.dur * 1000 // f.ts ELSE 0 END AS dur
        |  FROM (SELECT DISTINCT id FROM k WHERE kind = 'video/mp4') m0
        |  LEFT JOIN (
        |    SELECT id, n, max(st) AS fst, arg_max(box, st) AS mv,
        |      arg_max(bend, st) AS bend,
        |      arg_max(CASE WHEN ver = 1 THEN box + 40 ELSE box + 28 END, st) AS need,
        |      arg_max(ts, st) AS ts, arg_max(dur, st) AS dur
        |    FROM (
        |      SELECT id, n, st, box, bend, ver,
        |        CASE WHEN ver = 1
        |          THEN ((strpos('0123456789ABCDEF', substr(hx, 2*(box+28)+1, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+28)+2, 1))-1)) * 16777216
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+28)+3, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+28)+4, 1))-1)) * 65536
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+28)+5, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+28)+6, 1))-1)) * 256
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+28)+7, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+28)+8, 1))-1))
        |          ELSE ((strpos('0123456789ABCDEF', substr(hx, 2*(box+20)+1, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+20)+2, 1))-1)) * 16777216
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+20)+3, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+20)+4, 1))-1)) * 65536
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+20)+5, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+20)+6, 1))-1)) * 256
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+20)+7, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+20)+8, 1))-1)) END AS ts,
        |        CASE WHEN ver = 1
        |          THEN (((strpos('0123456789ABCDEF', substr(hx, 2*(box+32)+1, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+32)+2, 1))-1)) * 16777216
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+32)+3, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+32)+4, 1))-1)) * 65536
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+32)+5, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+32)+6, 1))-1)) * 256
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+32)+7, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+32)+8, 1))-1))) * 4294967296
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+36)+1, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+36)+2, 1))-1)) * 16777216
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+36)+3, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+36)+4, 1))-1)) * 65536
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+36)+5, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+36)+6, 1))-1)) * 256
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+36)+7, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+36)+8, 1))-1))
        |          ELSE ((strpos('0123456789ABCDEF', substr(hx, 2*(box+24)+1, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+24)+2, 1))-1)) * 16777216
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+24)+3, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+24)+4, 1))-1)) * 65536
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+24)+5, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+24)+6, 1))-1)) * 256
        |             + ((strpos('0123456789ABCDEF', substr(hx, 2*(box+24)+7, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+24)+8, 1))-1)) END AS dur
        |      FROM (
        |        SELECT id, hx, n, st, box, bend,
        |          (strpos('0123456789ABCDEF', substr(hx, 2*(box+8)+1, 1))-1)*16 + (strpos('0123456789ABCDEF', substr(hx, 2*(box+8)+2, 1))-1) AS ver
        |        FROM mv2 WHERE st = 1
        |      )
        |    ) GROUP BY id, n
        |  ) f ON f.id = m0.id
        |), sp AS (
        |  -- first-match descent moov→trak→mdia→minf→stbl→stts (mirrors
        |  -- Multimodal.mp4FrameCount: no backtracking; a size<8 box or a
        |  -- search range exhausting itself ends the walk unfound)
        |  SELECT id, hx, n, 0 AS depth, 0::BIGINT AS spos,
        |    CAST(n AS BIGINT) AS lim, 0 AS sst,
        |    0::BIGINT AS sbox, 0::BIGINT AS sbend
        |  FROM k WHERE kind = 'video/mp4'
        |  UNION ALL
        |  SELECT id, hx, n,
        |    CASE WHEN hit THEN depth + 1 ELSE depth END AS depth,
        |    CASE WHEN hit THEN spos + 8 ELSE spos + sz END AS spos,
        |    CASE WHEN hit THEN least(lim, spos + sz) ELSE lim END AS lim,
        |    CASE WHEN hit AND depth = 5 THEN 1 ELSE 0 END AS sst,
        |    CASE WHEN hit AND depth = 5 THEN spos ELSE 0::BIGINT END AS sbox,
        |    CASE WHEN hit AND depth = 5 THEN least(lim, spos + sz)
        |         ELSE 0::BIGINT END AS sbend
        |  FROM (
        |    SELECT *, (sz >= 8 AND tag8 = (['6D6F6F76','7472616B','6D646961',
        |      '6D696E66','7374626C','73747473'])[depth + 1]) AS hit
        |    FROM (
        |      SELECT id, hx, n, depth, spos, lim, sst,
        |        ${u32be("spos")} AS sz, substr(hx, 2*spos+9, 8) AS tag8
        |      FROM sp WHERE sst = 0 AND spos + 8 <= lim
        |    )
        |  ) WHERE sz >= 8
        |), smeta AS (
        |  -- frame count = sum of stts entries' sample_count fields; a
        |  -- truncated entry table degrades to 0, never a partial sum
        |  SELECT s0.id, coalesce(f2.frames, 0) AS frames
        |  FROM (SELECT DISTINCT id FROM k WHERE kind = 'video/mp4') s0
        |  LEFT JOIN (
        |    SELECT id,
        |      CASE WHEN sbox + 16 <= least(sbend, n)
        |             AND sbox + 16 + ec*8 <= least(sbend, n)
        |           THEN CAST(coalesce(list_sum(list_transform(
        |             range(CAST(CASE WHEN sbox + 16 + ec*8 <= least(sbend, n)
        |                        THEN ec ELSE 0 END AS BIGINT)),
        |             e -> ${u32be("sbox+16+8*e")})), 0) AS BIGINT)
        |           ELSE 0 END AS frames
        |    FROM (
        |      SELECT id, hx, n, sbox, sbend, ${u32be("(sbox)+12")} AS ec
        |      FROM sp WHERE sst = 1
        |    )
        |  ) f2 ON f2.id = s0.id
        |), ch AS (
        |  SELECT id,
        |    CASE WHEN kind = 'empty' THEN 0
        |    ELSE CAST(CASE WHEN hh >= 9223372036854775808::HUGEINT
        |              THEN hh - 18446744073709551616::HUGEINT ELSE hh END AS BIGINT)
        |    END AS content_hash
        |  FROM (
        |    SELECT id, kind,
        |      CASE WHEN kind = 'empty' THEN 0::HUGEINT ELSE
        |        list_reduce(
        |          list_prepend(1125899906842597::HUGEINT,
        |            list_transform(range(0, CAST(n AS INT),
        |                CAST(greatest(1, n // 4096) AS INT)), p ->
        |              CAST(CASE WHEN (strpos('0123456789ABCDEF', substr(hx, 2*p+1, 1))-1)*16
        |                         + (strpos('0123456789ABCDEF', substr(hx, 2*p+2, 1))-1) > 127
        |                   THEN (strpos('0123456789ABCDEF', substr(hx, 2*p+1, 1))-1)*16
        |                      + (strpos('0123456789ABCDEF', substr(hx, 2*p+2, 1))-1) - 256
        |                   ELSE (strpos('0123456789ABCDEF', substr(hx, 2*p+1, 1))-1)*16
        |                      + (strpos('0123456789ABCDEF', substr(hx, 2*p+2, 1))-1) END AS HUGEINT))),
        |          (acc, x) -> ((31*acc + x) % 18446744073709551616::HUGEINT
        |                       + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT)
        |      END AS hh
        |    FROM k
        |  )
        |)
        |SELECT k.id, k.kind,
        |  CAST(CASE WHEN k.kind IN ('image/png','image/gif','image/bmp') THEN fd.wh[1]
        |            WHEN k.kind = 'image/jpeg' THEN jd.w
        |            WHEN k.kind = 'image/tiff' THEN td.w ELSE 0 END AS INT) AS width,
        |  CAST(CASE WHEN k.kind IN ('image/png','image/gif','image/bmp') THEN fd.wh[2]
        |            WHEN k.kind = 'image/jpeg' THEN jd.h
        |            WHEN k.kind = 'image/tiff' THEN td.h ELSE 0 END AS INT) AS height,
        |  CAST(CASE WHEN k.kind IN ('image/png','image/jpeg','image/gif','image/bmp',
        |                            'image/tiff') THEN 1
        |            WHEN k.kind = 'audio/wav' THEN wm.frames
        |            WHEN k.kind = 'video/mp4' THEN least(sm.frames, 2147483647)
        |            ${pdfFramesLine}ELSE 0 END AS INT)
        |    AS n_frames,
        |  CAST(CASE WHEN k.kind = 'audio/wav' THEN wm.dur
        |            WHEN k.kind = 'video/mp4' THEN mm.dur ELSE 0 END AS BIGINT)
        |    AS duration_ms,
        |  k.n AS size_bytes,
        |  ch.content_hash
        |FROM k
        |LEFT JOIN fixdims fd ON fd.id = k.id
        |LEFT JOIN jdims jd ON jd.id = k.id
        |LEFT JOIN tdims td ON td.id = k.id
        |LEFT JOIN wmeta wm ON wm.id = k.id
        |LEFT JOIN mmeta mm ON mm.id = k.id
        |LEFT JOIN smeta sm ON sm.id = k.id
        |${pdfJoinLine}JOIN ch ON ch.id = k.id
        |${whereLine}ORDER BY k.id""".stripMargin
  }
}
