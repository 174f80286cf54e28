package graft.pipeline

import graft.pipeline.Config.TargetColumn
import graft.plans.GraftExtensions.{coerce_bool, coerce_datetime_value, coerce_number, coerce_numeric}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Catalog-driven coercion of a stringly-typed ingest DataFrame to the
  * target table schema — the Spark shape of `storeInDB`'s per-row battery
  * (`Wrap/DB.pm:238-312`, SURVEY.md §1.2): type class is detected from the
  * target TYPE_NAME, each class applies its cascade, and errors flow into a
  * `_errors` side channel instead of aborting row-by-row. Severity 2
  * (string overflow) aborts the load like the reference; severity 1 nulls
  * the value and records the error:
  *   - `non-numeric value for <col>`: the numeric battery rejects it;
  *   - `numeric value out of range for <col>`: a numeral too large for
  *     the column's decimal, bigint or int type (decimal and integral
  *     columns are read from the numeral's digits, never through a
  *     double; integral ones truncate toward zero);
  *   - `non-boolean value for <col>`;
  *   - `invalid date/time for <col>`: the cascade rejects its shape, or
  *     its fields are no calendar date and time of day (`31.02.2020`,
  *     hour 25). Date/time columns are built straight from the cascade's
  *     fields, timestamps in the session time zone.
  */
object SchemaCoercion {

  /** Error-message prefix marking load-aborting (severity-2) rows in the
    * `_errors` channel. */
  val Severity2Prefix = "severity2: "

  private val numericTypes = Seq("numeric", "float", "real", "smallmoney", "money", "decimal",
    "tinyint", "smallint", "int", "integer", "bigint", "long", "double")

  def typeClass(typeName: String): String = typeName.toLowerCase match {
    case t if numericTypes.exists(t.startsWith) => "numeric"
    case t if t.startsWith("bit") || t.startsWith("bool") => "bool"
    case t if t.startsWith("date") || t.startsWith("time") => "datetime"
    case _ => "string"
  }

  private def sparkType(typeName: String): DataType = typeName.toLowerCase match {
    case t if t.startsWith("tinyint") || t.startsWith("smallint") => IntegerType
    case t if t.startsWith("int") => LongType
    case t if t.startsWith("bigint") || t.startsWith("long") => LongType
    case t if t.startsWith("decimal") || t.startsWith("numeric") ||
              t.startsWith("money") || t.startsWith("smallmoney") => DecimalType(28, 6)
    case t if t.startsWith("float") || t.startsWith("real") || t.startsWith("double") => DoubleType
    case t if t.startsWith("bool") || t.startsWith("bit") => BooleanType
    case t if t.startsWith("date") && !t.startsWith("datetime") => DateType
    case t if t.startsWith("time") || t.startsWith("datetime") => TimestampType
    case _ => StringType
  }

  /** Apply the battery: every `TargetColumn` present in `df` is coerced;
    * identity columns are skipped (`Wrap/DB.pm:210`); a `_errors` array
    * column collects per-row messages. Two-digit years above
    * `cutoffYr2000` are 19xx, the others 20xx. */
  def apply(df: DataFrame, schema: Seq[TargetColumn], cutoffYr2000: Int = 60): DataFrame = {
    val cols = schema.filterNot(_.identity).filter(c => df.columns.contains(c.name))
    // build value + error expressions against the ORIGINAL columns and apply
    // them in one projection — a sequential withColumn fold would make the
    // error conditions see the already-coerced (nulled) values
    val perCol: Map[String, (Column, Option[Column])] = cols.map { tc =>
      val src = col(tc.name).cast("string")
      // the value leads each error condition, so the projection evaluates
      // it once for both
      def error(v: Column, message: Column) =
        Some(when(v.isNull && src.isNotNull, concat(message, src)))
      val (value, err) = typeClass(tc.typeName) match {
        case "numeric" => sparkType(tc.typeName) match {
          case DoubleType =>
            val v = coerce_numeric(src)
            (v, error(v, lit(s"non-numeric value for ${tc.name}: ")))
          case target =>
            val v = coerce_number(src, target)
            (v, error(v, when(coerce_numeric(src).isNull, lit(s"non-numeric value for ${tc.name}: "))
              .otherwise(lit(s"numeric value out of range for ${tc.name}: "))))
        }
        case "bool" =>
          val v = coerce_bool(src)
          (v, error(v, lit(s"non-boolean value for ${tc.name}: ")))
        case "datetime" =>
          val v = coerce_datetime_value(src, sparkType(tc.typeName), cutoffYr2000)
          (v, error(v, lit(s"invalid date/time for ${tc.name}: ")))
        case "string" =>
          // newline strip (Wrap/DB.pm:310); declared-width overflow is
          // severity 2 (`Wrap/DB.pm:305-308`) — recorded in the same
          // `_errors` channel (prefix contract with LoadRunner) so the
          // gate costs no extra scan
          val v = replace(src, lit("\n"), lit(""))
          val err =
            if (tc.size > 0) Some(when(length(v) > tc.size,
              concat(lit(s"${Severity2Prefix}content too long for ${tc.name} " +
                s"(declared size ${tc.size}): "), v)))
            else None
          (v, err)
      }
      tc.name -> (value, err)
    }.toMap
    val errorParts = perCol.values.flatMap(_._2).toSeq
    val errs =
      if (errorParts.nonEmpty) array_compact(array(errorParts: _*))
      else array().cast("array<string>")
    val projected = df.columns.toSeq.map { c =>
      perCol.get(c).map(_._1.as(c)).getOrElse(col(c))
    }
    df.select(projected :+ errs.as("_errors"): _*)
  }
}
