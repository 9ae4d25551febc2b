package extractbench

import java.sql.Timestamp

import ocrspark.job.Synth

/** One generated input row of the `pages` table (the engine's input
  * schema: url, warc_ts, html, text, lang). */
case class PageRow(url: String, warc_ts: Timestamp, html: Array[Byte],
                   text: String, lang: String)

/** A workload: a row count and a pure function from (seed, index) to a
  * row, so any thread or executor can regenerate any row and the same
  * seed always gives the same table. */
sealed trait Workload {
  def name: String
  def docs: Int
  def row(seed: Long, i: Int): PageRow
  /** Bucket-range commits in one lake sequence. */
  def lakeSteps: Int = 1
  /** Whether `docs_per_ref` is the commit rate of lake sequences rather
    * than the rate of batch passes. */
  def lakePrimary: Boolean = false
  /** What a run of `seconds` times; about 1.3 s per pass, 2 s per commit
    * and 0.5 s per no-op and 1 s per read-back on a 4-core host, GC and
    * references included. */
  def plan(seconds: Double): Plan
}

/** Timed batch passes, then lake sequences with `reps` no-ops and
  * read-backs each. */
final case class Plan(passes: Int, sequences: Int, reps: Int)

object Workloads {

  /** Word list and language mix of the engine's `documents` test table:
    * bag-of-words texts of 44..580 chars, 41% en and ~15% each of
    * es/fr/de/zh. */
  private val words = Vector("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Vector("en" -> 0.41, "es" -> 0.15, "fr" -> 0.15,
    "de" -> 0.14, "zh" -> 0.15)
  private val langCdf = langs.map(_._2).scanLeft(0.0)(_ + _).tail

  /** SplitMix64 finalizer over (seed, id, stream) → [0, 1). */
  def unit(seed: Long, id: Long, stream: Int): Double = {
    var x = seed * 0xD1B54A32D192ED03L + id * 0x9E3779B97F4A7C15L +
      stream * 0xC2B2AE3D27D4EB4FL
    x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
    x ^= x >>> 27; x *= 0x94D049BB133111EBL
    x ^= x >>> 31
    (x >>> 11).toDouble / (1L << 53).toDouble
  }

  def docText(seed: Long, id: Long): String = {
    val n = 8 + (unit(seed, id, 11) * 88).toInt
    val sb = new java.lang.StringBuilder
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      sb.append(words((unit(seed, id, 100 + k) * words.length).toInt))
      k += 1
    }
    sb.toString
  }

  def lang(seed: Long, id: Long): String = {
    val u = unit(seed, id, 12)
    val i = langCdf.indexWhere(u < _)
    langs(if (i < 0) langs.length - 1 else i)._1
  }

  /** Doc ids start at a seed-chosen multiple of 120, so every residue
    * `Synth` keys on (mod 3, 5, 20, 40) keeps its share. */
  def docId(seed: Long, i: Int): Long =
    (Math.floorMod(seed, 100000L) + 1) * 120L * 1000000L + i

  private def page(id: Long, ext: String, html: Array[Byte], text: String,
                   lang: String): PageRow =
    PageRow(s"https://${Synth.hostFor(id)}/doc/$id.$ext",
      new Timestamp(Synth.WarcBase + id * 1000L), html, text, lang)

  /** The `Synth` crawl mix: 35% HTML, 40% text PDF, 10% scanned PDF,
    * 5% corrupt PDF, 5% image, 5% upstream text. */
  case class CrawlMix(docs: Int) extends Workload {
    val name = "crawl_mix"
    def plan(seconds: Double): Plan =
      Plan(math.max(3, math.round(seconds / 2).toInt), math.max(1, math.round(seconds / 25).toInt), 4)
    def row(seed: Long, i: Int): PageRow = {
      val id = docId(seed, i)
      val p = Synth.pageFor(id, docText(seed, id), lang(seed, id))
      PageRow(p.url, p.warc_ts, p.html, p.text, p.lang)
    }
  }

  /** Short HTML pages only, a quarter of them carrying upstream text. */
  case class LakeIncremental(docs: Int) extends Workload {
    val name = "lake_incremental"
    override val lakeSteps = 4
    override val lakePrimary = true
    def plan(seconds: Double): Plan = Plan(0, math.max(2, math.round(seconds / 11).toInt), 3)
    def row(seed: Long, i: Int): PageRow = {
      val id = docId(seed, i)
      val body = Synth.bodyFor(id, docText(seed, id))
      val upstream = if (unit(seed, id, 30) < 0.25) body else null
      page(id, "html", Synth.htmlFor(id, body), upstream, lang(seed, id))
    }
  }

  def byName(name: String): Workload = name match {
    case "crawl_mix" => CrawlMix(8000)
    case "lake_incremental" => LakeIncremental(8000)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (crawl_mix, lake_incremental)")
  }

}
