package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.DataType

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions for SQL use. Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * call [[GraftExtensions.install]] on an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.plans.GraftExpressions", null, name, usage, "")

  val registrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("normalize_numerics",
      info("normalize_numerics",
        "normalize_numerics(str, thousandSep, decimalSep) - locale numeral normalization"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => NormalizeNumeric(s, Literal(","), Literal("."))
        case Seq(s, t, d) => NormalizeNumeric(s, t, d)
        case _ => throw new IllegalArgumentException(
          "normalize_numerics expects 1 or 3 arguments")
      }),
    ("coerce_numeric",
      info("coerce_numeric", "coerce_numeric(str) - reference numeric coercion battery"),
      (args: Seq[Expression]) => CoerceNumeric(args.head)),
    ("coerce_datetime",
      info("coerce_datetime", "coerce_datetime(str) - reference datetime cascade to ODBC canonical"),
      (args: Seq[Expression]) => CoerceDateTime(args.head)),
    ("coerce_bool",
      info("coerce_bool", "coerce_bool(str) - reference boolean coercion (WAHR/FALSCH/true/false/0/1)"),
      (args: Seq[Expression]) => CoerceBool(args.head)),
    ("char_ngrams",
      info("char_ngrams",
        "char_ngrams(text, n) - character n-grams of normalized text (lowercase, collapsed whitespace)"),
      (args: Seq[Expression]) => CharNgrams(args.head,
        args(1).eval().asInstanceOf[Int])),
    ("winnow_sketch",
      info("winnow_sketch",
        "winnow_sketch(text, k, w) - winnowing fingerprint sketch (k-gram rolling hashes, window minima)"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => WinnowSketch(s, 8, 4)
        case Seq(s, Literal(k: Int, _), Literal(w: Int, _)) => WinnowSketch(s, k, w)
        case _ => throw new IllegalArgumentException(
          "winnow_sketch expects (text) or (text, k, w) with literal k/w")
      }),
    ("shingles",
      info("shingles",
        "shingles(text, n) - word n-gram shingles of the normalized text"),
      (args: Seq[Expression]) => args match {
        case Seq(s, Literal(n: Int, _)) => ShingleArray(s, n)
        case _ => throw new IllegalArgumentException(
          "shingles expects (text, n) with literal n")
      }),
    ("poly_hash",
      info("poly_hash",
        "poly_hash(str) - portable 31-bit polynomial hash (engine-recomputable)"),
      (args: Seq[Expression]) => PolyHash(args.head)))

  /** Register on a live session (same effect as the extensions conf). */
  def install(spark: SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    registrations.foreach { case (name, inf, builder) =>
      registry.registerFunction(FunctionIdentifier(name), inf, builder)
    }
  }

  // Column API over the native expressions
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}
  def normalize_numerics(c: Column, thousandSep: String = ",", decimalSep: String = "."): Column =
    column(NormalizeNumeric(expression(c), Literal(thousandSep), Literal(decimalSep)))
  def coerce_numeric(c: Column): Column = column(CoerceNumeric(expression(c)))
  def coerce_number(c: Column, dataType: DataType): Column =
    column(CoerceNumber(expression(c), dataType))
  def coerce_datetime(c: Column): Column = column(CoerceDateTime(expression(c)))
  def coerce_datetime_value(c: Column, dataType: DataType, cutoffYr2000: Int): Column =
    column(CoerceDateTimeValue(expression(c), dataType, cutoffYr2000))
  def coerce_bool(c: Column): Column = column(CoerceBool(expression(c)))
}
