package ocrspark.job

import org.scalatest.funsuite.AnyFunSuite

import ocrspark.SparkSuite

/** Distributed end-to-end: the extraction pipeline over the synthesized
  * pages table at sf0.001, including the diff-join shape of the north
  * rule (expected vs actual per url). */
class PipelineSpec extends AnyFunSuite with SparkSuite {

  lazy val extracted = {
    val df = ExtractJob.run(Synth.pagesDF(spark, sfDir))
    df.cache()
    df.count()
    df
  }

  test("pipeline covers all methods and routes with expected mix") {
    import spark.implicits._
    val methods = extracted.groupBy($"method").count().as[(String, Long)]
      .collect().toMap
    // 500 docs: 35% html, 5% image, 40% text-pdf, 10% scanned,
    // 5% corrupt, 5% upstream
    assert(methods.getOrElse(Extract.MethodHtml, 0L) == 175L)
    assert(methods.getOrElse(Extract.MethodUpstream, 0L) == 25L)
    // text pdfs route text_extraction unless short; scanned+corrupt+image
    // take the OCR-shaped method
    assert(methods.getOrElse(Extract.MethodText, 0L) +
      methods.getOrElse(Extract.MethodOcr, 0L) == 300L)
    val routes = extracted.groupBy($"route").count().as[(String, Long)]
      .collect().toMap
    assert(routes.contains("text_extraction"))
    assert(routes.contains("ocr"))
  }

  test("image payloads route ocr and never leak through the html path") {
    import spark.implicits._
    val images = extracted.filter($"url".endsWith(".png") || $"url".endsWith(".jpg"))
    assert(images.count() == 25L)
    val bad = images.filter($"method" =!= Extract.MethodOcr ||
      $"route" =!= "ocr" || $"error".isNull).count()
    assert(bad == 0L)
    // no mojibake: image rows must not carry extracted text
    assert(images.filter(org.apache.spark.sql.functions.length($"text") > 0)
      .count() == 0L)
  }

  test("errors are confined to the corrupt cohort and typed") {
    import spark.implicits._
    val errUrls = extracted
      .filter($"error".isNotNull || $"text".contains("[Error"))
      .select($"url", $"error".isNotNull.as("docLevel")).as[(String, Boolean)]
      .collect()
    // corrupt docs are doc_id % 20 == 18; images (doc_id % 20 == 7) fail
    // the OCR route by contract; both failure layers must occur
    assert(errUrls.exists(_._2), "no document-level errors")
    assert(errUrls.exists(!_._2), "no page-level errors")
    errUrls.foreach { case (u, _) =>
      val id = u.split("/doc/")(1).replaceAll("\\.(pdf|html|png|jpg)$", "").toLong
      assert(id % 20 == 18 || id % 20 == 7, s"unexpected error for $u")
    }
  }

  test("diff-join vs row-local reference implementation: zero mismatches") {
    import spark.implicits._
    // expected side computed OUTSIDE Spark via the pure function —
    // the north rule's diff-join (a full outer join, so a row missing
    // on either side counts as a mismatch; Spark cannot broadcast it)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text", $"lang").as[(Long, String, String)]
      .collect()
    val expected = docs.map { case (id, text, lang) =>
      val p = Synth.pageFor(id, text, lang)
      val r = Extract.extractDocument(p.html, p.text, p.lang)
      (p.url, r.text, r.method)
    }.toSeq.toDF("url", "exp_text", "exp_method")
    val mismatches = extracted
      .join(expected, Seq("url"), "full_outer")
      .filter(!($"text" <=> $"exp_text") || !($"method" <=> $"exp_method"))
      .count()
    assert(mismatches == 0L)
  }

  test("force_ocr column plumbs through the batch job") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // text-routed PDFs (kind 8-15, non-corrupt): forced → OCR-shaped
    val pdfs = Synth.pagesDF(spark, sfDir)
      .filter($"url".endsWith(".pdf"))
    val normal = ExtractJob.run(pdfs)
    val forced = ExtractJob.run(pdfs.withColumn("force_ocr", lit(true)))
    val normalText = normal.filter($"method" === Extract.MethodText).count()
    assert(normalText > 0, "corpus should contain text-routed PDFs")
    assert(forced.filter($"method" === Extract.MethodText).count() == 0L)
    // every successfully parsed forced doc reports the forced route
    assert(forced.filter($"error".isNull && $"route" =!= "ocr").count() == 0L)
  }

  test("legal docs carry extracted fields at scale") {
    import spark.implicits._
    // every 5th doc got a legal header; text/upstream/html paths must
    // surface at least carpeta/expediente/juzgado fields
    val withFields = extracted
      .filter(org.apache.spark.sql.functions.size($"fields") > 0).count()
    assert(withFields >= 80, s"only $withFields docs with fields")
  }

  test("bucketing is stable and within range") {
    import spark.implicits._
    val buckets = extracted.select($"bucket").distinct().as[Int].collect()
    assert(buckets.forall(b => b >= 0 && b < ExtractJob.DefaultBuckets))
    val again = ExtractJob.run(Synth.pagesDF(spark, sfDir))
      .select($"url", $"bucket")
    val moved = extracted.select($"url", $"bucket".as("b1"))
      .join(again.withColumnRenamed("bucket", "b2"), "url")
      .filter($"b1" =!= $"b2").count()
    assert(moved == 0L)
  }

  test("metrics summary matches direct counts") {
    import spark.implicits._
    val m = ExtractJob.metrics(extracted).collect()(0)
    assert(m.getAs[Long]("docs_in") == 500L)
    assert(m.getAs[Long]("successful") + m.getAs[Long]("failed") == 500L)
    assert(m.getAs[Long]("failed") == extracted.filter($"error".isNotNull).count())
    // grouped by bucket: one row per bucket, each counter sums to the
    // global one
    val byBucket = ExtractJob.metrics(extracted, $"bucket")
    val rows = byBucket.collect()
    assert(rows.length.toLong == extracted.select($"bucket").distinct().count())
    val counters = m.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.LongType).map(_.name)
    assert(counters.contains("docs_in"))
    counters.foreach { k =>
      assert(rows.map(_.getAs[Long](k)).sum == m.getAs[Long](k), k)
    }
  }

  test("report UDF survives a null-html row (size coalesces to 0, report non-null)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // (html=null, text non-null) is a shape extractDocument explicitly
    // supports; the f8/f9 size expression must coalesce octet_length's
    // null to 0 instead of nulling out the entire report row
    val row = Seq((
      "http://example.pe/doc/upstream.pdf",
      new java.sql.Timestamp(1700000000000L),
      null.asInstanceOf[Array[Byte]],
      "MINISTERIO PÚBLICO texto previo suficiente para el reporte.",
      "es")).toDF("url", "warc_ts", "html", "text", "lang")
    val out = row
      .withColumn("size_bytes",
        coalesce(octet_length($"html").cast("long"), lit(0L)))
      .withColumn("r", ExtractJob.extractUdf($"html", $"text", $"lang", lit(false)))
      .select(ocrspark.text.Report.markdownUdf(
        $"url", $"warc_ts", $"lang", $"size_bytes",
        $"r.method", $"r.pages", $"r.confidence",
        $"r.text", $"r.fields").as("report")).collect()(0)
    assert(out.getAs[String]("report") != null)
    assert(out.getAs[String]("report").contains("- **Tamaño**: 0.0MB"))
    // and the driver-facing f8/f9 queries emit a report for EVERY row
    val f8 = graft.SparkEntry.queries("f8_markdown_report")(spark, sfDir)
    assert(f8.filter($"report".isNull).count() == 0)
    val f9 = graft.SparkEntry.queries("f9_json_metadata")(spark, sfDir)
    assert(f9.filter($"metadata_json".isNull).count() == 0)
  }
}
