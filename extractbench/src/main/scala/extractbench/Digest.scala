package extractbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import ocrspark.job.Extract

/** An order-independent digest of an extracted table: row count, the
  * sum of per-row `xxhash64 mod P`, their xor, and the row count per
  * extraction method. */
case class Digest(rows: Long, sum: Long, xor: Long, methods: Map[String, Long])

/** The row hash covers every column `ExtractJob.run` keeps. `fields` is
  * a map, which `xxhash64` rejects, so it is hashed as its entries
  * sorted by key. The same hash is computed outside Spark from direct
  * `Extract.extractDocument` calls with Catalyst's own hash function, so
  * the two sides agree bit for bit exactly when the outputs do. */
object Digest {

  val P = 1000000007L

  val Methods = Seq(Extract.MethodText, Extract.MethodOcr, Extract.MethodHtml,
    Extract.MethodUpstream, Extract.MethodError)

  /** Accumulator for the direct-call side; one per thread, merged at the end. */
  final class Acc {
    var rows, sum, xor = 0L
    val methods = new Array[Long](Methods.length)
    def add(h: Long, method: String): Unit = {
      rows += 1; sum += Math.floorMod(h, P); xor ^= h
      methods(Methods.indexOf(method)) += 1
    }
    def merge(o: Acc): Unit = {
      rows += o.rows; sum += o.sum; xor ^= o.xor
      Methods.indices.foreach(i => methods(i) += o.methods(i))
    }
    def result: Digest = Digest(rows, sum, xor, Methods.zip(methods).toMap)
  }

  private val entryType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType)))

  /** Column order and types of the hashed row. */
  val rowType: StructType = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("lang", StringType), StructField("bucket", IntegerType),
    StructField("text", StringType),
    StructField("fields", ArrayType(entryType, containsNull = false)),
    StructField("method", StringType), StructField("pages", IntegerType),
    StructField("confidence", DoubleType),
    StructField("processed_pages", IntegerType),
    StructField("low_confidence_pages", IntegerType),
    StructField("route", StringType), StructField("error", StringType)))

  private def hashCol: Column = xxhash64(rowType.fieldNames.toIndexedSeq.map {
    case "fields" => array_sort(map_entries(col("fields")))
    case c => col(c)
  }: _*)

  /** One aggregate that forces every output column of `df`. */
  def query(df: DataFrame): DataFrame = {
    val h = hashCol
    val aggs = Seq(count(lit(1)), sum(pmod(h, lit(P))), bit_xor(h)) ++
      Methods.map(m => count_if(col("method") === m))
    df.agg(aggs.head, aggs.tail: _*)
  }

  def fromRow(r: Row): Digest =
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2),
      Methods.zipWithIndex.map { case (m, i) => m -> r.getLong(3 + i) }.toMap)

  def ofSpark(df: DataFrame): Digest = fromRow(query(df).collect()(0))

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  /** `pmod(xxhash64(url), nBuckets)`, as `ExtractJob.bucketCol`. */
  def bucketOf(url: String, nBuckets: Int): Int =
    Math.floorMod(XxHash64Function.hash(utf8(url), StringType, 42L), nBuckets.toLong).toInt

  def rowHash(p: PageRow, bucket: Int, r: Extract.DocResult): Long = {
    val entries = r.fields.toSeq
      .map { case (k, v) => (utf8(k), utf8(v)) }
      .sortWith((a, b) => a._1.compareTo(b._1) < 0) // as array_sort
      .map { case (k, v) => InternalRow(k, v): Any }
    val row = InternalRow(utf8(p.url), DateTimeUtils.fromJavaTimestamp(p.warc_ts),
      utf8(p.lang), bucket, utf8(r.text), new GenericArrayData(entries.toArray),
      utf8(r.method), r.pages, r.confidence, r.processed_pages,
      r.low_confidence_pages, utf8(r.route), utf8(r.error))
    XxHash64Function.hash(row, rowType, 42L)
  }
}
