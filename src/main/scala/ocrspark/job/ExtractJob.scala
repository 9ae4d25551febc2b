package ocrspark.job

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import ocrspark.route.Analyze

/** The end-to-end extraction job over the `pages` lake table —
  * bucketing and the single-projection extraction stage (SURVEY.md
  * §3.1 Spark restatement, §4 O3-O5).
  *
  * Scale design (10^12 docs / 100 TB):
  *   - `bucket = pmod(xxhash64(url), nBuckets)` — explicit url-hash
  *     bucketing; the bucket is the unit of lineage + resume (north
  *     rule). nBuckets scales with cluster size, not data size per se
  *     (target ≈ 2-4 tasks per core at full fleet).
  *   - AQE + skew-join stay enabled as belt-and-braces (session conf).
  *   - The extraction itself is ONE UDF projection: no intermediate
  *     wide rows, no exploded page shuffle — pages stay inside their
  *     document row (SURVEY.md §2.4 A4).
  *   - [[run]] adds no exchange; the lake writer (`IncrementalExtract`)
  *     places its own `rebalance(bucket)`, which AQE sizes.
  */
object ExtractJob {

  val DefaultBuckets = 64

  /** The extraction stage as a column over (html, text, lang,
    * force_ocr). */
  val extractUdf =
    udf((html: Array[Byte], text: String, lang: String, forceOcr: Boolean) =>
      Extract.extractDocument(html, text, lang, forceOcr))

  /** The `force_ocr` override column: present on the input table →
    * honored per row; absent → false (reference form param default,
    * app.py:906). */
  private def forceOcrCol(pages: DataFrame): Column =
    if (pages.columns.contains("force_ocr"))
      coalesce(col("force_ocr"), lit(false))
    else lit(false)

  def bucketCol(nBuckets: Int): Column =
    pmod(xxhash64(col("url")), lit(nBuckets)).cast("int")

  /** pages(url, warc_ts, html, text, lang) → extracted table
    * (FIXTURES.md §1.2): the map-side extraction projection — the
    * extract UDF, `bucket` and the result fields, with no exchange.
    * Per-task input balance comes from parquet split sizing
    * (`spark.sql.files.maxPartitionBytes`). Batch passes, the lake
    * writer and the streaming extraction all start from it. */
  def run(pages: DataFrame, nBuckets: Int = DefaultBuckets): DataFrame =
    pages
      .withColumn("r",
        extractUdf(col("html"), col("text"), col("lang"), forceOcrCol(pages)))
      .withColumn("bucket", bucketCol(nBuckets))
      .select(
        col("url"), col("warc_ts"), col("lang"), col("bucket"),
        col("r.text").as("text"), col("r.fields").as("fields"),
        col("r.method").as("method"), col("r.pages").as("pages"),
        col("r.confidence").as("confidence"),
        col("r.processed_pages").as("processed_pages"),
        col("r.low_confidence_pages").as("low_confidence_pages"),
        col("r.route").as("route"),
        col("r.error").as("error"))

  /** The routing-analysis-only stage as a column (cheap: 3-page PDF
    * sample, no normalize/fields — Extract.analyzeDocument). */
  val analyzeUdf =
    udf((html: Array[Byte], text: String, lang: String) =>
      Extract.analyzeDocument(html, text, lang))

  /** The /analyze-shaped metadata query (SURVEY.md §3.3): routing
    * analysis only, no extraction text in the output — demonstrates the
    * route being a composable column, and lets Parquet prune `html`
    * consumers downstream. Runs the DEDICATED analyze kernel (first-3-
    * pages sample, no normalization — app.py:258-286), not the full
    * extraction; the reference /analyze endpoint likewise has no
    * force_ocr parameter. */
  def analyzeOnly(pages: DataFrame): DataFrame = {
    pages
      .withColumn("r", analyzeUdf(col("html"), col("text"), col("lang")))
      .select(
        col("url"),
        col("r.route").as("route"),
        col("r.route_confidence").as("route_confidence"),
        col("r.has_text").as("has_text"),
        col("r.has_images").as("has_images"),
        col("r.text_length").as("text_length"),
        col("r.pages").as("pages"),
        col("r.text_density").as("text_density"))
  }

  /** Stage counters for the metrics table — the Spark analog of the
    * reference's batch summary (app.py:1146-1163). Each is a `LongType`
    * aggregate that sums across groups; [[metrics]] aggregates them and
    * the lake writer observes them on its staged write, so a new counter
    * is added here and nowhere else. */
  val counters: Seq[Column] = Seq(
    count(lit(1)).as("docs_in"),
    sum(when(col("error").isNull, 1L).otherwise(0L)).as("successful"),
    sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("failed"),
    sum(when(col("route") === Analyze.RouteText, 1L).otherwise(0L)).as("route_text"),
    sum(when(col("route") === Analyze.RouteHybrid, 1L).otherwise(0L)).as("route_hybrid"),
    sum(when(col("route") === Analyze.RouteOcr, 1L).otherwise(0L)).as("route_ocr"),
    sum(when(col("method") === Extract.MethodHtml, 1L).otherwise(0L)).as("route_html"),
    sum(col("pages").cast("long")).as("total_pages"))

  /** The counters plus `avg_confidence`, one row per group of `by` (one
    * row in all when `by` is empty). Partial aggregation makes this
    * map-side cheap. */
  def metrics(extracted: DataFrame, by: Column*): DataFrame =
    extracted.groupBy(by: _*).agg(counters.head,
      counters.tail :+ avg(col("confidence")).as("avg_confidence"): _*)
}
