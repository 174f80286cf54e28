package graft

import java.util.regex.Pattern
import java.util.concurrent.ConcurrentHashMap

/** Literal regex transcriptions of the reference's coercion rules — the
  * semantic reference for [[graft.functions.Coerce]]'s character scans,
  * which CoerceSpec pins to them with differential properties:
  * `normalizeNumerics` from `Wrap/File.pm:427-434`, the numeric battery
  * from `Wrap/DB.pm:244-256` and the date/time cascade from
  * `Wrap/DB.pm:264-301`. */
object CoerceRegexTwins {

  // ---- normalizeNumerics --------------------------------------------------
  private case class SepPatterns(grouped: Pattern, plainDec: Pattern, sciDec: Pattern,
                                 thousandAll: Pattern, decimalOne: Pattern)
  private val sepCache = new ConcurrentHashMap[(String, String), SepPatterns]()
  private def sepPatterns(t: String, d: String): SepPatterns =
    sepCache.computeIfAbsent((t, d), { case (ts, ds) =>
      val tq = Pattern.quote(ts); val dq = Pattern.quote(ds)
      SepPatterns(
        grouped = Pattern.compile(s"-?\\d{1,3}($tq\\d{3})+($dq\\d*)?"),
        plainDec = Pattern.compile(s"-?\\d+$dq\\d+"),
        sciDec = Pattern.compile(s"-*\\d*$dq?\\d+E*[-+]*\\d*"),
        thousandAll = Pattern.compile(tq),
        decimalOne = Pattern.compile(dq))
    })

  /** Locale-aware numeric normalization (`Wrap/File.pm:427-434`): remove
    * thousand separators when the string is a fully-grouped numeral, then
    * rewrite the decimal separator to '.' when the string is a plain or
    * scientific numeral. Non-numeric shapes pass through untouched.
    * Defaults: thousand ',', decimal '.' (`Wrap/File.pm:445`). */
  def normalizeNumericsRegex(s0: String, thousandSep: String = ",", decimalSep: String = "."): String = {
    if (s0 == null) return null
    // fast path: with neither separator present every rewrite below is a
    // no-op (grouped needs a thousand sep; the decimal rewrite replaces a
    // decimal sep) — skip the regex battery entirely
    if (s0.indexOf(thousandSep) < 0 && s0.indexOf(decimalSep) < 0) return s0
    var s = s0
    val p = sepPatterns(thousandSep, decimalSep)
    if (p.grouped.matcher(s).matches())
      s = p.thousandAll.matcher(s).replaceAll("")
    if (decimalSep != ".") {
      if (p.plainDec.matcher(s).matches() || p.sciDec.matcher(s).matches())
        s = p.decimalOne.matcher(s).replaceFirst(".")
    }
    s
  }

  // ---- numeric ------------------------------------------------------------
  private val trailingZeros = Pattern.compile(".*\\d+\\.0+")
  private val trailingZerosStrip = Pattern.compile("\\.0+$")
  private val postfixMinus = Pattern.compile("[\\d.]*-")
  private val postfixMinusSwap = Pattern.compile("([\\d.]*)-")
  private val percent = Pattern.compile("[\\d.]*%")
  private val numericShape = Pattern.compile("-*\\d*\\.?\\d+E*[-+]*\\d*")

  /** Literal regex transcription of `Wrap/DB.pm:244-256` — the semantic
    * reference for [[graft.functions.Coerce.coerceNumeric]]'s scan; differential property
    * test in CoerceSpec. */
  def coerceNumericRegex(s0: String): Option[Double] = {
    if (s0 == null) return None
    var s = s0
    if (trailingZeros.matcher(s).matches()) s = trailingZerosStrip.matcher(s).replaceAll("")
    if (postfixMinus.matcher(s).matches()) s = postfixMinusSwap.matcher(s).replaceFirst("-$1")
    if (percent.matcher(s).matches()) s = s.substring(0, s.length - 1)
    if (!numericShape.matcher(s).matches()) return None
    if (s == "N/A") return None
    val v = try s.toDouble catch { case _: NumberFormatException => return None }
    if (math.abs(v) <= 1.79e-308 && math.abs(v) > 0) Some(0.0) else Some(v)
  }

  // ---- datetime -----------------------------------------------------------
  private def p(re: String) = Pattern.compile(re)
  private val gate1 = p("^\\d{2}[./]*\\d{2}[./]*\\d{2,4}.*")
  private val gate2 = p("^\\d{4}-\\d{2}-\\d{2}.*")
  private val gate3 = p("^\\d{2}:\\d{2}:\\d{2}.*")
  private val dmyTime = p("^(\\d{2})[./](\\d{2})[./](\\d{4}) (\\d{2}):(\\d{2}):(\\d{2})")
  private val sap60 = p("^(\\d{4})(\\d{2})(\\d{2})(\\d{2})(\\d{2})(60)")
  private val sapFull = p("^(\\d{4})(\\d{2})(\\d{2})(\\d{2})(\\d{2})(\\d{2})")
  private val dmy = p("^(\\d{2})[./](\\d{2})[./](\\d{4})")
  private val ymd8 = p("^(\\d{4})(\\d{2})(\\d{2})")
  private val ymdDot = p("^(\\d{4})\\.(\\d{2})\\.(\\d{2})")
  private val shortYear = p("^(\\d{2})[./](\\d{2})[./](\\d{2})")
  private val zeroTime = p("^00:00:00$")
  private val zeroDate = p("^0000-00-00 00:00:00$")
  private val hms = p("^(\\d{2}):(\\d{2}):(\\d{2})")
  private val hms6 = p("^(\\d{2})(\\d{2})(\\d{2})")
  private val hmOnly = p("^(\\d{2}):(\\d{2})$")
  private val canonical = p("^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$")
  private val canonicalDate = p("^\\d{4}-\\d{2}-\\d{2}$")
  private val digits8 = p("^\\d{8}.*")
  private val digits6 = p("^\\d{6}.*")
  private val digits14 = p("^\\d{14}.*")

  /** Date/time coercion cascade (`Wrap/DB.pm:264-301`), normalizing ≥12
    * input shapes to the ODBC canonical `YYYY-MM-DD hh:mm:ss`. Returns the
    * canonical STRING (the reference passes strings to ODBC); None mirrors
    * the reference's `undef` (with its severity-1 error channel). Rule
    * order is kept exactly; the reference's msec rule is an unreachable
    * no-op (replicated by omission) and so is its bare `HH:MM` rule (the
    * shape gate rejects it first).
    */
  def coerceDateTimeRegex(s0: String, cutoffYr2000: Int = 60): Option[String] = {
    if (s0 == null) return None
    var s = s0
    if (!(gate1.matcher(s).matches() || gate2.matcher(s).matches() || gate3.matcher(s).matches()))
      return None
    if (dmyTime.matcher(s).find())
      s = dmyTime.matcher(s).replaceFirst("$3-$2-$1 $4:$5:$6")
    if (digits14.matcher(s).matches()) {
      if (sap60.matcher(s).find()) s = sap60.matcher(s).replaceFirst("$1-$2-$3 $4:$5:59")
      if (sapFull.matcher(s).find()) s = sapFull.matcher(s).replaceFirst("$1-$2-$3 $4:$5:$6")
    }
    if (dmy.matcher(s).find()) s = dmy.matcher(s).replaceFirst("$3-$2-$1 00:00:00")
    if (digits8.matcher(s).matches()) s = ymd8.matcher(s).replaceFirst("$1-$2-$3 00:00:00")
    if (ymdDot.matcher(s).find()) s = ymdDot.matcher(s).replaceFirst("$1-$2-$3 00:00:00")
    val sy = shortYear.matcher(s)
    if (sy.find()) {
      val prefix = if (sy.group(3).toInt > cutoffYr2000) "19" else "20"
      s = shortYear.matcher(s).replaceFirst(s"$prefix$$3-$$2-$$1 00:00:00")
    }
    if (zeroTime.matcher(s).matches()) return None
    if (zeroDate.matcher(s).matches()) return None
    if (hms.matcher(s).find()) s = hms.matcher(s).replaceFirst("1900-01-01 $1:$2:$3")
    else if (digits6.matcher(s).matches()) s = hms6.matcher(s).replaceFirst("1900-01-01 $1:$2:$3")
    else if (hmOnly.matcher(s).matches()) s = hmOnly.matcher(s).replaceFirst("1900-01-01 $1:$2:00")
    if (s.startsWith("0")) return None
    if (!canonical.matcher(s).matches() && !canonicalDate.matcher(s).matches()) return None
    Some(s)
  }

}
