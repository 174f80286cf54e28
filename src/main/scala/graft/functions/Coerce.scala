package graft.functions

import java.time.{LocalDate, LocalDateTime, ZoneId}

/** Parse-time numeric normalization and sink-side type coercion — behavioral
  * parity with the reference (SURVEY.md §1.2 / §2.2 T2+T8):
  * `normalizeNumerics` from `/root/reference/Wrap/File.pm:427-434`, the
  * numeric/bool/datetime coercion battery from
  * `/root/reference/Wrap/DB.pm:238-312`. Pure string functions (no Spark
  * dependency); Column wrappers in [[EtlFunctions]].
  *
  * These run per field on the ingest hot path, so each rule set is a
  * single-pass character scan over the value instead of the reference's
  * regex cascade. CoerceSpec pins every scan to a literal regex
  * transcription of the reference with differential properties.
  */
object Coerce {

  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** End of the run of digits starting at `from`. */
  private def digitsEnd(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && isDigit(s.charAt(i))) i += 1
    i
  }

  /** `s[from, to)` is all digits and lies inside `s`. */
  private def digitsAt(s: String, from: Int, to: Int): Boolean =
    to <= s.length && digitsEnd(s, from) >= to

  // ---- normalizeNumerics --------------------------------------------------

  /** Locale-aware numeric normalization (`Wrap/File.pm:427-434`): remove
    * thousand separators when the string is a fully-grouped numeral
    * (`-?\d{1,3}(T\d{3})+(D\d*)?`), then rewrite the first decimal
    * separator to '.' when the string is a plain (`-?\d+D\d+`) or
    * scientific (`-*\d*D?\d+E*[-+]*\d*`) numeral. Non-numeric shapes pass
    * through untouched. Defaults: thousand ',', decimal '.'
    * (`Wrap/File.pm:445`).
    *
    * The scans decide those shapes without backtracking, which is exact
    * when neither separator starts with a digit and the decimal one does
    * not start with '-', '+' or 'E'; other separators are refused. */
  def normalizeNumerics(s0: String, thousandSep: String = ",", decimalSep: String = "."): String = {
    if (s0 == null) return null
    require(thousandSep.nonEmpty && !isDigit(thousandSep.charAt(0)) &&
      decimalSep.nonEmpty && "0123456789-+E".indexOf(decimalSep.charAt(0)) < 0,
      s"unsupported numeral separators '$thousandSep' / '$decimalSep'")
    // with neither separator present every rewrite below is a no-op
    if (s0.indexOf(thousandSep) < 0 && s0.indexOf(decimalSep) < 0) return s0
    var s = s0
    if (isGrouped(s, thousandSep, decimalSep)) s = s.replace(thousandSep, "")
    val k = s.indexOf(decimalSep)
    if (k >= 0 && decimalSep != "." && (isPlainDecimal(s, decimalSep) || isSciDecimal(s, decimalSep)))
      s = s.substring(0, k) + "." + s.substring(k + decimalSep.length)
    s
  }

  /** `-?\d{1,3}(T\d{3})+(D\d*)?`, full match. The group chain is forced
    * (T starts with a non-digit), so the tail is tried after each group. */
  private def isGrouped(s: String, t: String, d: String): Boolean = {
    val lead = if (s.startsWith("-")) 1 else 0
    var p = digitsEnd(s, lead)
    if (p == lead || p - lead > 3) return false
    while (s.startsWith(t, p) && digitsAt(s, p + t.length, p + t.length + 3)) {
      p += t.length + 3
      if (p == s.length ||
          s.startsWith(d, p) && digitsEnd(s, p + d.length) == s.length) return true
    }
    false
  }

  /** `-?\d+D\d+`, full match. */
  private def isPlainDecimal(s: String, d: String): Boolean = {
    val lead = if (s.startsWith("-")) 1 else 0
    val p = digitsEnd(s, lead)
    p > lead && s.startsWith(d, p) && {
      val q = p + d.length
      q < s.length && digitsEnd(s, q) == s.length
    }
  }

  /** `-*\d*D?\d+E*[-+]*\d*`, full match: the `\d*D?\d+` core needs a digit
    * after D when D is taken, else at least one digit. */
  private def isSciDecimal(s: String, d: String): Boolean = {
    var i = 0
    while (i < s.length && s.charAt(i) == '-') i += 1
    val intStart = i
    i = digitsEnd(s, i)
    if (s.startsWith(d, i)) {
      val fracStart = i + d.length
      i = digitsEnd(s, fracStart)
      if (i == fracStart) return false
    } else if (i == intStart) return false
    shapeTail(s, i) == s.length
  }

  /** End of the `E*[-+]*\d*` tail starting at `from`. */
  private def shapeTail(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && s.charAt(i) == 'E') i += 1
    while (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    digitsEnd(s, i)
  }

  // ---- numeric ------------------------------------------------------------

  /** The numeral the numeric battery (`Wrap/DB.pm:244-256`) makes of `s0`,
    * or null when it rejects `s0`: strip trailing ".0+", SAP postfix minus
    * `123-` → `-123`, strip a trailing '%', then reject what is not
    * numeric (the reference's `-*\d*\.?\d+E*[-+]*\d*` shape, narrowed to
    * the numerals `toDouble` parses: one leading minus at most, an exponent
    * only as `E`, an optional sign and digits). The reference's "N/A"
    * check is subsumed: it has no digit. */
  def numeral(s0: String): String = {
    if (s0 == null) return null
    val n = s0.length
    // pass 1: digit presence (every accepting shape requires \d+) and the
    // plain optionally-negative integer fast path (takes no rewrites)
    var hasDigit = false
    var pureInt = n > 0 && n <= 16
    var i = 0
    while (i < n) {
      val c = s0.charAt(i)
      val digit = isDigit(c)
      hasDigit |= digit
      pureInt &&= digit || (i == 0 && c == '-' && n > 1)
      i += 1
    }
    if (!hasDigit) return null
    if (pureInt) return s0
    var s = s0
    // ".*\d+\.0+$" → strip the "\.0+" tail: a run of '0's at the end,
    // preceded by '.', preceded by a digit
    var j = s.length - 1
    while (j >= 0 && s.charAt(j) == '0') j -= 1
    if (j < s.length - 1 && j >= 1 && s.charAt(j) == '.' && isDigit(s.charAt(j - 1)))
      s = s.substring(0, j)
    // "[\d.]*-$" → leading minus; "[\d.]*%$" → drop the percent sign
    val last = s.charAt(s.length - 1)
    if ((last == '-' || last == '%') && digitsDotsOnly(s, s.length - 1))
      s = if (last == '-') "-" + s.substring(0, s.length - 1)
          else s.substring(0, s.length - 1)
    if (isNumeral(s)) s else null
  }

  /** Numeric coercion battery (`Wrap/DB.pm:244-256`): the [[numeral]] as
    * a double, subnormals (≤1.79E-308) flushed to 0; None for what the
    * battery rejects. */
  def coerceNumeric(s0: String): Option[Double] = {
    val s = numeral(s0)
    if (s == null) None
    else {
      val v = s.toDouble
      if (math.abs(v) <= 1.79e-308 && math.abs(v) > 0) Some(0.0) else Some(v)
    }
  }

  private def digitsDotsOnly(s: String, end: Int): Boolean = {
    var i = 0
    while (i < end) {
      val c = s.charAt(i)
      if (!(isDigit(c) || c == '.')) return false
      i += 1
    }
    true
  }

  /** `-?\d*\.?\d+(E[-+]?\d+)?`, full match: the shape gate
    * `-*\d*\.?\d+E*[-+]*\d*` intersected with what `toDouble` parses. */
  private def isNumeral(s: String): Boolean = {
    val n = s.length
    var i = if (s.startsWith("-")) 1 else 0
    val intStart = i
    i = digitsEnd(s, i)
    if (i < n && s.charAt(i) == '.') {
      val fracStart = i + 1
      i = digitsEnd(s, fracStart)
      if (i == fracStart) return false
    } else if (i == intStart) return false
    if (i == n) return true
    if (s.charAt(i) != 'E') return false
    i += 1
    if (i < n && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    i < n && digitsEnd(s, i) == n
  }

  /** Boolean coercion (`Wrap/DB.pm:258-262`): WAHR/TRUE → true,
    * FALSCH/FALSE → false (case-insensitive), plus bare 1/0; anything else
    * → None. */
  def coerceBool(s0: String): Option[Boolean] = {
    if (s0 == null) return None
    val s = s0.trim
    if (s.equalsIgnoreCase("WAHR") || s.equalsIgnoreCase("TRUE") || s == "1") Some(true)
    else if (s.equalsIgnoreCase("FALSCH") || s.equalsIgnoreCase("FALSE") || s == "0") Some(false)
    else None
  }

  // ---- datetime -----------------------------------------------------------

  /** [[scanDateTime]]'s result for a value the cascade rejects. */
  final val NoDateTime = -1L

  /** Flag on a [[scanDateTime]] result whose canonical string is the input
    * itself (already `YYYY-MM-DD[ hh:mm:ss]`, no rule rewrote it). */
  private final val AsIs = 1L << 50

  private def sepAt(s: String, i: Int): Boolean = {
    val c = s.charAt(i)
    c == '.' || c == '/'
  }
  private def d2(s: String, i: Int): Int = (s.charAt(i) - '0') * 10 + s.charAt(i + 1) - '0'
  private def d4(s: String, i: Int): Int = d2(s, i) * 100 + d2(s, i + 2)

  private def pack(y: Int, mo: Int, d: Int, h: Int, mi: Int, sec: Int): Long =
    ((((y.toLong * 100 + mo) * 100 + d) * 100 + h) * 100 + mi) * 100 + sec

  /** `dd[./]dd[./]dd` at the start of `s`. */
  private def dmyPrefix(s: String): Boolean =
    s.length >= 8 && digitsAt(s, 0, 2) && sepAt(s, 2) && digitsAt(s, 3, 5) &&
      sepAt(s, 5) && digitsAt(s, 6, 8)

  /** `dddd-dd-dd` at the start of `s`. */
  private def isoDatePrefix(s: String): Boolean =
    s.length >= 10 && digitsAt(s, 0, 4) && s.charAt(4) == '-' && digitsAt(s, 5, 7) &&
      s.charAt(7) == '-' && digitsAt(s, 8, 10)

  /** `dd:dd:dd` at `from`. */
  private def hmsAt(s: String, from: Int): Boolean =
    s.length >= from + 8 && digitsAt(s, from, from + 2) && s.charAt(from + 2) == ':' &&
      digitsAt(s, from + 3, from + 5) && s.charAt(from + 5) == ':' &&
      digitsAt(s, from + 6, from + 8)

  /** The date/time coercion cascade (`Wrap/DB.pm:264-301`) in one scan:
    * the fields of the ODBC canonical `YYYY-MM-DD hh:mm:ss` it gives `s`,
    * packed as decimal digits (year·10¹⁰ + month·10⁸ + … + second), or
    * [[NoDateTime]]. Checks shape only, like the reference: a month 13
    * passes here and fails [[isCalendarDate]].
    *
    * The reference rewrites a value's leading date/time into the
    * canonical prefix with the first of its rules that fits, and no later
    * rule fits that prefix; it then accepts the result only when nothing
    * follows the prefix and the year does not start with '0'. So the scan
    * tries the rules in the reference's order on the input and stops at
    * the first that fits. Unrewritten values pass when they already are
    * canonical (date-only too). The shape gate is implied: every rule's
    * prefix passes it. The msec rule is an unreachable no-op in the
    * reference and so is its bare `HH:MM` rule (its shape gate rejects
    * `HH:MM` first); both are left out. */
  def scanDateTime(s: String, cutoffYr2000: Int = 60): Long = {
    if (s == null) return NoDateTime
    val n = s.length
    var fields = NoDateTime
    var end = 0
    if (n >= 19 && dmyPrefix(s) && digitsAt(s, 8, 10) && s.charAt(10) == ' ' && hmsAt(s, 11)) {
      // dd.mm.yyyy hh:mm:ss
      fields = pack(d4(s, 6), d2(s, 3), d2(s, 0), d2(s, 11), d2(s, 14), d2(s, 17)); end = 19
    } else if (digitsAt(s, 0, 14)) {
      // SAP yyyymmddhhmmss, second 60 → 59
      val sec = d2(s, 12)
      fields = pack(d4(s, 0), d2(s, 4), d2(s, 6), d2(s, 8), d2(s, 10), if (sec == 60) 59 else sec)
      end = 14
    } else if (n >= 10 && dmyPrefix(s) && digitsAt(s, 8, 10)) {
      fields = pack(d4(s, 6), d2(s, 3), d2(s, 0), 0, 0, 0); end = 10  // dd.mm.yyyy
    } else if (digitsAt(s, 0, 8)) {
      fields = pack(d4(s, 0), d2(s, 4), d2(s, 6), 0, 0, 0); end = 8   // yyyymmdd
    } else if (n >= 10 && digitsAt(s, 0, 4) && s.charAt(4) == '.' && digitsAt(s, 5, 7) &&
        s.charAt(7) == '.' && digitsAt(s, 8, 10)) {
      fields = pack(d4(s, 0), d2(s, 5), d2(s, 8), 0, 0, 0); end = 10  // yyyy.mm.dd
    } else if (dmyPrefix(s)) {
      // dd.mm.yy: two-digit years above the cutoff are 19yy, the rest 20yy
      val yy = d2(s, 6)
      fields = pack((if (yy > cutoffYr2000) 1900 else 2000) + yy, d2(s, 3), d2(s, 0), 0, 0, 0)
      end = 8
    } else if (s == "00:00:00") {
      return NoDateTime
    } else if (hmsAt(s, 0)) {
      fields = pack(1900, 1, 1, d2(s, 0), d2(s, 3), d2(s, 6)); end = 8  // hh:mm:ss
    } else if (digitsAt(s, 0, 6)) {
      fields = pack(1900, 1, 1, d2(s, 0), d2(s, 2), d2(s, 4)); end = 6  // hhmmss
    } else if (n == 19 && isoDatePrefix(s) && s.charAt(10) == ' ' && hmsAt(s, 11)) {
      if (s.charAt(0) == '0') return NoDateTime
      return AsIs | pack(d4(s, 0), d2(s, 5), d2(s, 8), d2(s, 11), d2(s, 14), d2(s, 17))
    } else if (n == 10 && isoDatePrefix(s)) {
      if (s.charAt(0) == '0') return NoDateTime
      return AsIs | pack(d4(s, 0), d2(s, 5), d2(s, 8), 0, 0, 0)
    } else return NoDateTime
    if (end != n || fields / 10000000000L < 1000) NoDateTime else fields
  }

  private def year(p: Long): Int = ((p & (AsIs - 1)) / 10000000000L).toInt
  private def field(p: Long, scale: Long): Int = ((p / scale) % 100).toInt

  /** The ODBC canonical string of a [[scanDateTime]] result. */
  private def canonical(s0: String, p: Long): String =
    if ((p & AsIs) != 0) s0
    else {
      val out = "0000-00-00 00:00:00".toCharArray
      def put(v: Int, end: Int, width: Int): Unit =
        (1 to width).foldLeft(v) { (rest, k) => out(end - k) = ('0' + rest % 10).toChar; rest / 10 }
      put(year(p), 4, 4)
      put(field(p, 100000000L), 7, 2); put(field(p, 1000000L), 10, 2)
      put(field(p, 10000L), 13, 2); put(field(p, 100L), 16, 2); put(field(p, 1L), 19, 2)
      new String(out)
    }

  /** Date/time coercion cascade (`Wrap/DB.pm:264-301`), normalizing ≥12
    * input shapes to the ODBC canonical `YYYY-MM-DD hh:mm:ss`. Returns the
    * canonical STRING (the reference passes strings to ODBC); None mirrors
    * the reference's `undef` (with its severity-1 error channel). Shape
    * only: `31.02.2020` gives `2020-02-31 00:00:00`, as in the reference. */
  def coerceDateTime(s0: String, cutoffYr2000: Int = 60): Option[String] = {
    val p = scanDateTime(s0, cutoffYr2000)
    if (p == NoDateTime) None else Some(canonical(s0, p))
  }

  /** A [[scanDateTime]] result names a real date and a time of day
    * (hour ≤ 23, minute and second ≤ 59). */
  def isCalendarDate(p: Long): Boolean = p != NoDateTime && {
    val (mo, d) = (field(p, 100000000L), field(p, 1000000L))
    mo >= 1 && mo <= 12 && d >= 1 &&
      d <= java.time.YearMonth.of(year(p), mo).lengthOfMonth() &&
      field(p, 10000L) <= 23 && field(p, 100L) <= 59 && field(p, 1L) <= 59
  }

  /** Days since 1970-01-01 of a calendar-valid [[scanDateTime]] result. */
  def epochDay(p: Long): Int =
    LocalDate.of(year(p), field(p, 100000000L), field(p, 1000000L)).toEpochDay.toInt

  /** Microseconds since the epoch of a calendar-valid [[scanDateTime]]
    * result read as a local date-time in `zone` (a gap moves forward, an
    * overlap takes the earlier offset, as `to_timestamp` does). */
  def epochMicros(p: Long, zone: ZoneId): Long = {
    val (h, mi, sec) = (field(p, 10000L), field(p, 100L), field(p, 1L))
    val rules = zone.getRules
    val seconds =
      if (rules.isFixedOffset)
        epochDay(p) * 86400L + h * 3600 + mi * 60 + sec -
          rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds
      else LocalDateTime.of(year(p), field(p, 100000000L), field(p, 1000000L), h, mi, sec)
        .atZone(zone).toEpochSecond
    seconds * 1000000L
  }

  /** String coercion (`Wrap/DB.pm:304-310`): length check against the
    * declared size (severity-2 overflow → None here, error channel in the
    * sink), strip newlines. Quote-doubling is a SQL-literal artifact the
    * Spark engine doesn't need. */
  def coerceString(s0: String, maxLen: Int): Option[String] = {
    if (s0 == null) return None
    if (maxLen > 0 && s0.length > maxLen) return None
    Some(s0.replace("\n", ""))
  }
}
