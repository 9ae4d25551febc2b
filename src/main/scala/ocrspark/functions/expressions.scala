package ocrspark.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import ocrspark.text.{Fields, Normalize}

/** Native Catalyst expressions for the text operators (SURVEY.md §7.4
  * "optional Expression polish", preference order (b) of the design
  * rules: a native `Expression` beats a Scala UDF — it skips the UDF
  * row-converter round trip (UTF8String→String→…→UTF8String plus a
  * `CatalystTypeConverter` per call) and carries precise null semantics.
  * The kernels are CPU-bound regex engines, so `CodegenFallback` is the
  * right codegen story: the expression itself would not benefit from
  * generated code, but it composes inside whole-stage-codegen'd
  * projections via the fallback path.
  *
  * Registered for SQL via [[GraftFunctions.registerAll]] (session
  * runtime) or [[GraftExtensions]] (spark-submit `--conf
  * spark.sql.extensions=ocrspark.functions.GraftExtensions`).
  */
case class NormalizeText(textExpr: Expression, langExpr: Expression)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(textExpr, langExpr)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true

  /** Null semantics mirror the engine contract: null text → null;
    * null lang → legal chain (the reference defaults unknown languages
    * to 'spa', app.py:912-913). */
  override def eval(input: InternalRow): Any = {
    val t = textExpr.eval(input)
    if (t == null) return null
    val l = langExpr.eval(input)
    UTF8String.fromString(Normalize.normalize(
      t.toString, if (l == null) null else l.toString))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(textExpr = newChildren(0), langExpr = newChildren(1))
}

/** `extract_fields(text)` → map<string,string> with absent-key
  * semantics (reference app.py:505-533). */
case class ExtractFields(child: Expression)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = MapType(StringType, StringType, valueContainsNull = false)
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) return null
    val fields = Fields.extract(t.toString)
    val keys = new Array[Any](fields.size)
    val values = new Array[Any](fields.size)
    var i = 0
    fields.foreach { case (k, v) =>
      keys(i) = UTF8String.fromString(k)
      values(i) = UTF8String.fromString(v)
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** `page_separator(page, total)` (reference app.py:538-540). */
case class PageSeparator(pageExpr: Expression, totalExpr: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(pageExpr, totalExpr)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val p = pageExpr.eval(input)
    val t = totalExpr.eval(input)
    if (p == null || t == null) null
    else UTF8String.fromString(ocrspark.text.PageAssembly.separator(
      p.asInstanceOf[Number].intValue(), t.asInstanceOf[Number].intValue()))
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pageExpr = newChildren(0), totalExpr = newChildren(1))
}

/** Column API + SQL registration. */
object GraftFunctions {

  // Spark 4: Column ↔ Expression goes through the classic converter
  private def ex(c: Column): Expression =
    org.apache.spark.sql.graftshim.ColumnBridge.expression(c)
  private def co(e: Expression): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(e)

  def normalize_text(text: Column, lang: Column): Column =
    co(NormalizeText(ex(text), ex(lang)))

  def extract_fields(text: Column): Column =
    co(ExtractFields(ex(text)))

  def page_separator(page: Column, total: Column): Column =
    co(PageSeparator(ex(page), ex(total)))

  /** (SQL name, expression class, builder) of every function:
    * [[registerAll]] and [[GraftExtensions]] both register from it. */
  private[functions] val registry
      : Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("normalize_text", classOf[NormalizeText], es => NormalizeText(es(0), es(1))),
    ("extract_fields", classOf[ExtractFields], es => ExtractFields(es.head)),
    ("page_separator", classOf[PageSeparator], es => PageSeparator(es(0), es(1))))

  /** Make the functions callable from `spark.sql` in this session. */
  def registerAll(spark: SparkSession): Unit =
    registry.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}

/** spark-submit entry: `--conf spark.sql.extensions=ocrspark.functions.GraftExtensions`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.registry.foreach { case (name, cls, builder) =>
      e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
}
