package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the telemetry position parse:
  * `{lat, lon, alt}` text → `struct<lon,lat,alt double>`, null on malformed
  * input (the reference's `convert_position_array`,
  * `02_raw_telemetry_transform.py:278`).
  *
  * This is the custom-`Expression` tier of the extension ladder (compose
  * built-ins → custom Expression → custom plan → mapPartitions): unlike
  * the UDF form it needs no encoder round-trip, is null-intolerant at the
  * expression level, and participates in whole-stage codegen — `doGenCode`
  * emits a static call into [[ParsePositionExpression.parse]], keeping the
  * generated method small (the earlier all-regex expression form blew past
  * the JIT method limit; SURVEY §7.3 planned exactly this promotion).
  */
case class ParsePositionExpression(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ParsePositionExpression.schema
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"parse_position expects STRING, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    ParsePositionExpression.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cls = ParsePositionExpression.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $cls.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object ParsePositionExpression {
  val schema: StructType = StructType(Seq(
    StructField("lon", DoubleType),
    StructField("lat", DoubleType),
    StructField("alt", DoubleType)))

  private val numPat =
    java.util.regex.Pattern.compile("[+-]?\\d+(\\.\\d+)?([eE][+-]?\\d+)?")

  /** Static parse entry shared by interpreted eval and generated code.
    * Returns an InternalRow(lon, lat, alt) or null. */
  def parse(raw: UTF8String): InternalRow = {
    if (raw == null) return null
    val s = raw.toString.trim
    if (s.length < 2 || s.charAt(0) != '{' || s.charAt(s.length - 1) != '}')
      return null
    val parts = s.substring(1, s.length - 1).split(",", -1)
    if (parts.length != 3) return null
    val vals = new Array[Double](3)
    var i = 0
    while (i < 3) {
      val p = parts(i).trim
      if (!numPat.matcher(p).matches()) return null
      vals(i) = java.lang.Double.parseDouble(p)
      i += 1
    }
    // input order is {lat, lon, alt}; output field order is (lon, lat, alt)
    InternalRow(vals(1), vals(0), vals(2))
  }

  /** Column form — resolves through the function registry, so the session
    * must carry [[GraftExtensions]] (or have called [[register]]). */
  def parsePositionNative(c: Column): Column =
    org.apache.spark.sql.functions.call_function("parse_position", c)
}

/** Session extensions registering graft's native expressions for both the
  * SQL surface (`SELECT parse_position(col)`) and the Column API. Apply
  * them through [[graft.GraftSession.configure]]:
  * {{{
  * val spark = GraftSession.configure(builder).getOrCreate()
  * }}}
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(e.injectFunction)
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  val parsePositionDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("parse_position"),
      new ExpressionInfo(classOf[ParsePositionExpression].getName,
        "parse_position"),
      (exprs: Seq[Expression]) => ParsePositionExpression(exprs.head))

  val pointInPolygonDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("point_in_polygon"),
      new ExpressionInfo(classOf[PointInPolygonExpression].getName,
        "point_in_polygon"),
      (exprs: Seq[Expression]) =>
        PointInPolygonExpression(exprs(0), exprs(1), exprs(2)))

  val vecCosineDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[CosineSimilarityExpression].getName,
        "vec_cosine"),
      (exprs: Seq[Expression]) =>
        CosineSimilarityExpression(exprs(0), exprs(1)))

  val vecDotDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProductExpression].getName,
        "vec_dot"),
      (exprs: Seq[Expression]) =>
        DotProductExpression(exprs(0), exprs(1)))

  val lshSignatureDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("lsh_signature"),
      new ExpressionInfo(classOf[LshSignatureExpression].getName,
        "lsh_signature"),
      (exprs: Seq[Expression]) =>
        LshSignatureExpression(exprs(0), exprs(1)))

  val unicodeNormalizeDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalizeExpression].getName,
        "unicode_normalize"),
      (exprs: Seq[Expression]) => {
        // the form is plan-time metadata, not data: require a literal so
        // the Form lookup never runs per row
        val form = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions
              .Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
            UnicodeNormalizeExpression.formIndex(v.toString)
          case _ => throw new IllegalArgumentException(
            "unicode_normalize(str, form): form must be a string literal")
        }
        UnicodeNormalizeExpression(exprs(0), form)
      })

  val charNgramMatchesDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("char_ngram_matches"),
      new ExpressionInfo(classOf[CharNgramMatchesExpression].getName,
        "char_ngram_matches"),
      (exprs: Seq[Expression]) => {
        // the order is plan-time metadata, not data: require a literal
        // (the unicode_normalize convention)
        val n = exprs(2) match {
          case org.apache.spark.sql.catalyst.expressions
              .Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            "char_ngram_matches(hyp, ref, n): n must be an int literal")
        }
        CharNgramMatchesExpression(exprs(0), exprs(1), n)
      })

  val arrayClippedMatchesDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("array_clipped_matches"),
      new ExpressionInfo(classOf[ArrayClippedMatchesExpression].getName,
        "array_clipped_matches"),
      (exprs: Seq[Expression]) =>
        ArrayClippedMatchesExpression(exprs(0), exprs(1)))

  val arrayLcsLengthDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("array_lcs_length"),
      new ExpressionInfo(classOf[ArrayLcsLengthExpression].getName,
        "array_lcs_length"),
      (exprs: Seq[Expression]) =>
        ArrayLcsLengthExpression(exprs(0), exprs(1)))

  val sentenceUnionLcsDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("sentence_union_lcs"),
      new ExpressionInfo(classOf[SentenceUnionLcsExpression].getName,
        "sentence_union_lcs"),
      (exprs: Seq[Expression]) =>
        SentenceUnionLcsExpression(exprs(0), exprs(1)))

  val queryTimestampDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("query_timestamp"),
      new ExpressionInfo(classOf[QueryTimestampExpression].getName,
        "query_timestamp"),
      (exprs: Seq[Expression]) => {
        require(exprs.isEmpty, "query_timestamp() takes no arguments")
        QueryTimestampExpression()
      })

  /** Every native function, in one list: the builder extensions
    * ([[GraftExtensions.apply]]) and [[register]] both install exactly
    * these. */
  val descriptors
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(parsePositionDescriptor, pointInPolygonDescriptor,
      vecCosineDescriptor, vecDotDescriptor, lshSignatureDescriptor,
      unicodeNormalizeDescriptor, charNgramMatchesDescriptor,
      arrayClippedMatchesDescriptor, arrayLcsLengthDescriptor,
      sentenceUnionLcsDescriptor, queryTimestampDescriptor)

  /** Register into an already-built session (builder extensions only apply
    * to sessions constructed with `withExtensions`; `getOrCreate` on an
    * existing session ignores them). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    descriptors.foreach {
      case (id, info, builder) => registry.registerFunction(id, info, builder)
    }
  }
}
