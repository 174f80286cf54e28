package graft.pipeline

import graft.pipeline.Config.TargetColumn
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Catalog-driven coercion of a stringly-typed ingest DataFrame to the
  * target table schema — the Spark shape of `storeInDB`'s per-row battery
  * (`Wrap/DB.pm:238-312`, SURVEY.md §1.2): type class is detected from the
  * target TYPE_NAME, each class applies its cascade, and errors flow into a
  * `_errors` side channel instead of aborting row-by-row. Severity 2
  * (string overflow) aborts the load like the reference; severity 1 nulls
  * the value and records the error.
  */
object SchemaCoercion {

  /** Error-message prefix marking load-aborting (severity-2) rows in the
    * `_errors` channel. */
  val Severity2Prefix = "severity2: "

  private val numericRe ="^(numeric|float|real|smallmoney|money|decimal|tinyint|smallint|int|integer|bigint|long|double).*".r

  def typeClass(typeName: String): String = typeName.toLowerCase match {
    case numericRe(_) => "numeric"
    case t if t.startsWith("bit") || t.startsWith("bool") => "bool"
    case t if t.startsWith("date") || t.startsWith("time") => "datetime"
    case _ => "string"
  }

  private def sparkType(typeName: String): String = typeName.toLowerCase match {
    case t if t.startsWith("tinyint") || t.startsWith("smallint") => "int"
    case t if t.startsWith("int") => "long"
    case t if t.startsWith("bigint") || t.startsWith("long") => "long"
    case t if t.startsWith("decimal") || t.startsWith("numeric") ||
              t.startsWith("money") || t.startsWith("smallmoney") => "decimal(28,6)"
    case t if t.startsWith("float") || t.startsWith("real") || t.startsWith("double") => "double"
    case t if t.startsWith("bool") || t.startsWith("bit") => "boolean"
    case t if t.startsWith("date") && !t.startsWith("datetime") => "date"
    case t if t.startsWith("time") || t.startsWith("datetime") => "timestamp"
    case _ => "string"
  }

  /** Apply the battery: every `TargetColumn` present in `df` is coerced;
    * identity columns are skipped (`Wrap/DB.pm:210`); a `_errors` array
    * column collects per-row messages. */
  def apply(df: DataFrame, schema: Seq[TargetColumn]): DataFrame = {
    val cols = schema.filterNot(_.identity).filter(c => df.columns.contains(c.name))
    // build value + error expressions against the ORIGINAL columns and apply
    // them in one projection — a sequential withColumn fold would make the
    // error conditions see the already-coerced (nulled) values
    val perCol: Map[String, (Column, Option[Column])] = cols.map { tc =>
      val src = col(tc.name)
      val (value, err) = typeClass(tc.typeName) match {
        case "numeric" =>
          val v = graft.plans.GraftExtensions.coerce_numeric(src.cast("string"))
          (v.cast(sparkType(tc.typeName)),
            Some(when(src.isNotNull && v.isNull,
              concat(lit(s"non-numeric value for ${tc.name}: "), src.cast("string")))))
        case "bool" =>
          val v = graft.plans.GraftExtensions.coerce_bool(src.cast("string"))
          (v, Some(when(src.isNotNull && v.isNull,
            concat(lit(s"non-boolean value for ${tc.name}: "), src.cast("string")))))
        case "datetime" =>
          val odbc = graft.plans.GraftExtensions.coerce_datetime(src.cast("string"))
          val ts = to_timestamp(odbc, "yyyy-MM-dd HH:mm:ss")
          val v = if (sparkType(tc.typeName) == "date") ts.cast("date") else ts
          (v, Some(when(src.isNotNull && odbc.isNull,
            concat(lit(s"invalid date/time for ${tc.name}: "), src.cast("string")))))
        case "string" =>
          // newline strip (Wrap/DB.pm:310); declared-width overflow is
          // severity 2 (`Wrap/DB.pm:305-308`) — recorded in the same
          // `_errors` channel (prefix contract with LoadRunner) so the
          // gate costs no extra scan
          val v = regexp_replace(src.cast("string"), "\n", "")
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
