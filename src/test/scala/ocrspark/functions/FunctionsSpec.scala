package ocrspark.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import ocrspark.SparkSuite
import ocrspark.bench.Measure

class FunctionsSpec extends AnyFunSuite with SparkSuite {

  test("native expressions equal the UDF path on the whole documents table") {
    import spark.implicits._
    val normUdf = udf((t: String, l: String) => ocrspark.text.Normalize.normalize(t, l))
    val fieldsUdf = udf((t: String) => ocrspark.text.Fields.extract(t))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val both = docs.select(
      GraftFunctions.normalize_text($"text", $"lang").as("e_norm"),
      normUdf($"text", $"lang").as("u_norm"),
      GraftFunctions.extract_fields($"text").as("e_fields"),
      fieldsUdf($"text").as("u_fields"))
    // maps have no ordering for <=>; compare sorted entry arrays
    val bad = both.filter(!($"e_norm" <=> $"u_norm") ||
      !(array_sort(map_entries($"e_fields")) <=>
        array_sort(map_entries($"u_fields")))).count()
    assert(bad == 0L)
  }

  /** The SQL registration query: the three functions on literals and
    * over the documents table, through `session.sql`. */
  private def checkSqlFunctions(session: SparkSession): Unit = {
    session.read.parquet(s"$sfDir/documents.parquet").createOrReplaceTempView("docs_v")
    val row = session.sql(
      """SELECT normalize_text('fiscalia  provincial
        |
        |
        |penal', 'es') AS n,
        |  extract_fields('CARPETA FISCAL: 5006014504-2024-215-0') AS f,
        |  page_separator(2, 10) AS s""".stripMargin).collect()(0)
    assert(row.getAs[String]("n") == "FISCALÍA PROVINCIAL PENAL")
    assert(row.getAs[Map[String, String]]("f")("carpeta_fiscal") ==
      "5006014504-2024-215-0")
    assert(row.getAs[String]("s") == "\n\n--- Página 2 de 10 ---\n\n")
    // and over a table
    assert(session.sql(
      "SELECT count(*) FROM docs_v WHERE length(normalize_text(text, lang)) > 0")
      .collect()(0).getLong(0) > 0)
  }

  test("SQL registration: callable from spark.sql") {
    GraftFunctions.registerAll(spark)
    checkSqlFunctions(spark)
  }

  test("null semantics: null text → null; null lang → legal chain") {
    import spark.implicits._
    val df = Seq((null.asInstanceOf[String], "es"), ("publico", null.asInstanceOf[String]))
      .toDF("text", "lang")
    val rows = df.select(GraftFunctions.normalize_text($"text", $"lang")).collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getString(0) == "PÚBLICO") // unknown lang → legal tables
  }

  // Runs last: a new session stops the suite's own.
  test("GraftExtensions: spark.sql.extensions registers the SQL functions") {
    sys.props("spark.sql.extensions") = classOf[GraftExtensions].getName
    val session = try Measure.session(4, 4) finally sys.props -= "spark.sql.extensions"
    try checkSqlFunctions(session) finally session.stop()
  }
}
