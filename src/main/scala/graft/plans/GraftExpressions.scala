package graft.plans

import graft.functions.Coerce
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the ingest hot path (SURVEY.md §7.3):
  * the coercion battery as codegen'd expressions instead of Scala UDFs —
  * no serialization boundary, null handling in generated code, and the
  * expression stays inside whole-stage codegen. The string work delegates
  * to the shared [[Coerce]] scans via a static call.
  */
object GraftExpressions {

  /** Codegen helpers invoked from generated code — must be public static
    * (object methods compile to static under the hood via MODULE$). */
  def normalizeNumerics(s: UTF8String, t: UTF8String, d: UTF8String): UTF8String =
    UTF8String.fromString(Coerce.normalizeNumerics(s.toString, t.toString, d.toString))

  def coerceNumericBoxed(s: UTF8String): java.lang.Double =
    Coerce.coerceNumeric(s.toString) match {
      case Some(v) => java.lang.Double.valueOf(v)
      case None => null
    }

  def coerceDateTimeBoxed(s: UTF8String): UTF8String =
    Coerce.coerceDateTime(s.toString) match {
      case Some(v) => UTF8String.fromString(v)
      case None => null
    }

  def coerceBoolBoxed(s: UTF8String): java.lang.Boolean =
    Coerce.coerceBool(s.toString) match {
      case Some(v) => java.lang.Boolean.valueOf(v)
      case None => null
    }

  /** The battery's numeral (see [[Coerce.numeral]]) as a value of the
    * integral or decimal type `dt` — integral: truncated toward zero;
    * decimal: rounded half-up to its scale — or null when the battery
    * rejects `s` or the value is out of `dt`'s range. Read from the
    * numeral's digits, not through a double, so no digit is lost. */
  def coerceNumberBoxed(s: UTF8String, dt: DataType): AnyRef = {
    val n = Coerce.numeral(s.toString)
    if (n == null) return null
    dt match {
      case d: DecimalType =>
        // `17E2` parses to scale -2, which Spark's Decimal refuses
        val bd = new java.math.BigDecimal(n) match {
          case b if b.scale < 0 => b.setScale(0)
          case b => b
        }
        val intDigits = bd.precision - bd.scale
        if (intDigits > d.precision - d.scale) null
        // below half a unit of the last place: 0 (skips a huge rescale)
        else if (intDigits <= -d.scale - 1) Decimal(0L, d.precision, d.scale)
        else {
          val v = Decimal(bd)
          if (v.changePrecision(d.precision, d.scale)) v else null
        }
      case _ =>
        val whole =
          if (n.length <= 18 && n.indexOf('.') < 0 && n.indexOf('E') < 0) n.toLong
          else {
            val bd = new java.math.BigDecimal(n)
            val intDigits = bd.precision - bd.scale
            if (intDigits > 19) return null
            if (intDigits <= 0) 0L
            else {
              val w = bd.setScale(0, java.math.RoundingMode.DOWN).unscaledValue
              if (w.bitLength > 63) return null
              w.longValue
            }
          }
        if (dt == LongType) java.lang.Long.valueOf(whole)
        else if (whole.isValidInt) java.lang.Integer.valueOf(whole.toInt)
        else null
    }
  }

  /** Days since the epoch of the cascade's date for `s`, or null when the
    * cascade rejects `s` or it is not a calendar date. */
  def coerceDateBoxed(s: UTF8String, cutoffYr2000: Int): java.lang.Integer = {
    val p = Coerce.scanDateTime(s.toString, cutoffYr2000)
    if (Coerce.isCalendarDate(p)) java.lang.Integer.valueOf(Coerce.epochDay(p)) else null
  }

  /** Microseconds since the epoch of the cascade's date-time for `s` in
    * `zone`, or null when the cascade rejects `s` or it is not a calendar
    * date and time of day. */
  def coerceTimestampBoxed(s: UTF8String, cutoffYr2000: Int,
                           zone: java.time.ZoneId): java.lang.Long = {
    val p = Coerce.scanDateTime(s.toString, cutoffYr2000)
    if (Coerce.isCalendarDate(p)) java.lang.Long.valueOf(Coerce.epochMicros(p, zone)) else null
  }

  private val WsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Count of whitespace tokens of `trim(s)` present in `words` —
    * identical semantics to `size(filter(split(trim(s), "\\s+"),
    * isin(words)))` in one primitive pass (the HOF tree evaluates
    * interpreted per token). */
  def tokenMatchCount(s: UTF8String, words: java.util.HashSet[String]): Int = {
    val toks = WsPattern.split(s.toString.trim, -1)
    var c = 0
    var i = 0
    while (i < toks.length) {
      if (words.contains(toks(i))) c += 1
      i += 1
    }
    c
  }

  /** Word n-gram shingles of the normalized text — semantics identical to
    * the declarative `filter(transform(sequence(0, greatest(size(toks)-n,
    * 0)), i => concat_ws(" ", slice(toks, i+1, n))), length > 0)` over
    * `split(regexp_replace(lower(trim(text)), "\s+", " "), " ")`:
    * UTF8String.trim/toLowerCase are the exact operations Spark's
    * trim()/lower() use, the regex collapse and the clamped windows are
    * replayed in one pass. */
  def shingles(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val norm = WsPattern.matcher(s.trim().toLowerCase().toString).replaceAll(" ")
    val toks = norm.split(" ", -1)
    val nG = math.max(toks.length - n, 0) + 1
    val out = new java.util.ArrayList[UTF8String](nG)
    var i = 0
    while (i < nG) {
      val end = math.min(i + n, toks.length)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      if (sb.length > 0) out.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      out.toArray(new Array[UTF8String](out.size)))
  }

  /** Per-shingle 64-bit hashes in ONE pass over the normalized text —
    * bit-identical to hashing [[shingles]]' output elementwise, with no
    * per-shingle string materialization: every word n-gram of the
    * single-space-normalized text is a CONTIGUOUS substring (window i =
    * norm[start_i, end_{min(i+n,T)-1})), so each hash runs over a slice
    * of one per-doc buffer. `poly = false` → Spark's xxhash64 (XXH64
    * over the UTF-8 bytes, seed 42 — byte-equal to
    * `xxhash64(element_at(shingles, i))`); `poly = true` → [[polyHash]]
    * (the same code-point fold over the substring). The one empty-
    * shingle case [[shingles]] filters (norm = "" → one empty window)
    * returns an empty array here too. */
  def shingleHashes(s: UTF8String, n: Int, poly: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    val norm = WsPattern.matcher(s.trim().toLowerCase().toString).replaceAll(" ")
    // a window's joined length equals its slice length (token bytes +
    // single separators), so [[shingles]]' empty-shingle filter
    // (sb.length > 0) is exactly "skip zero-length slices" here —
    // edge empty tokens exist whenever UTF8String.trim (0x20 only)
    // left non-space whitespace that the collapse turned into a
    // leading/trailing separator
    if (poly) {
      val len = norm.length
      var spaces = 0
      var i = 0
      while (i < len) { if (norm.charAt(i) == ' ') spaces += 1; i += 1 }
      val t = spaces + 1
      // starts(k) = char index of token k; sentinel starts(t) = len + 1
      // so `starts(j) - 1` is uniformly "end of token j-1"
      val starts = new Array[Int](t + 1)
      var k = 1
      i = 0
      while (i < len) {
        if (norm.charAt(i) == ' ') { starts(k) = i + 1; k += 1 }
        i += 1
      }
      starts(t) = len + 1
      val nG = math.max(t - n, 0) + 1
      val out = new Array[Long](nG)
      var cnt = 0
      var g = 0
      while (g < nG) {
        val from = starts(g)
        val until = starts(math.min(g + n, t)) - 1
        if (until > from) {
          var acc = 0L
          var j = from
          while (j < until) {
            val cp = norm.codePointAt(j)
            acc = (acc * 31 + cp) % 2147483647L
            j += Character.charCount(cp)
          }
          out(cnt) = acc
          cnt += 1
        }
        g += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        java.util.Arrays.copyOf(out, cnt))
    } else {
      val bytes = norm.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val len = bytes.length
      var spaces = 0
      var i = 0
      // 0x20 never occurs inside a UTF-8 multi-byte sequence, so byte
      // scanning finds exactly the token boundaries
      while (i < len) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
      val t = spaces + 1
      val starts = new Array[Int](t + 1)
      var k = 1
      i = 0
      while (i < len) {
        if (bytes(i) == 0x20) { starts(k) = i + 1; k += 1 }
        i += 1
      }
      starts(t) = len + 1
      val nG = math.max(t - n, 0) + 1
      val out = new Array[Long](nG)
      var cnt = 0
      var g = 0
      while (g < nG) {
        val from = starts(g)
        val until = starts(math.min(g + n, t)) - 1
        if (until > from) {
          out(cnt) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
            until - from, 42L)
          cnt += 1
        }
        g += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        java.util.Arrays.copyOf(out, cnt))
    }
  }

  /** Character n-grams of the normalized text (lowercase, trim, collapse
    * whitespace — the [[graft.operators.TextOps.normalizeText]]
    * discipline), windows over code points: gram i = chars [i, i+n) for
    * i in 0..len-n. Semantics identical to the declarative
    * `transform(sequence(1, length(norm)-1), i => norm.substr(i, n))`
    * formulation (for n = 2) it replaces, which exploded positions FIRST
    * and so copied the whole normalized string into every gram row. */
  def charNgrams(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val norm = WsPattern.matcher(s.trim().toLowerCase().toString).replaceAll(" ")
    val cps = norm.codePoints().toArray
    val cnt = math.max(cps.length - n + 1, 0)
    val out = new Array[UTF8String](cnt)
    var i = 0
    while (i < cnt) {
      out(i) = UTF8String.fromString(new String(cps, i, n))
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Token n-grams over an already-tokenized array — semantics identical
    * to the declarative `transform(sequence(0, greatest(size(toks) - n,
    * 0)), i => concat_ws(" ", slice(toks, i + 1, n)))`: windows clamp at
    * the array end, and an array shorter than `n` degenerates to its own
    * join (the empty array to [""]), exactly as the oracle arithmetic
    * replays. Unlike [[shingles]], empties are NOT filtered out. */
  def tokenNgrams(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                  n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val space = UTF8String.fromString(" ")
    val s = arr.numElements()
    val cnt = math.max(s - n, 0) + 1
    val out = new Array[UTF8String](cnt)
    var i = 0
    while (i < cnt) {
      val end = math.min(i + n, s)
      val parts = new Array[UTF8String](end - i)
      var j = i
      while (j < end) { parts(j - i) = arr.getUTF8String(j); j += 1 }
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Dot-product / squared-L2 left fold over two numeric arrays —
    * semantics identical to the declarative `aggregate(zip_with(...),
    * 0.0, acc + _)` formulations in [[graft.operators.Similarity]]:
    * per-element double casts, strict left-to-right accumulation from
    * 0.0 (IEEE-754-exact, so the DuckDB oracle's ordered `list_reduce`
    * replay stays bit-identical). A length mismatch or a null element
    * yields null, matching zip_with's null padding flowing through
    * null-propagating arithmetic. */
  def vecFold(a: org.apache.spark.sql.catalyst.util.ArrayData,
              b: org.apache.spark.sql.catalyst.util.ArrayData,
              aKind: Int, bKind: Int,
              squared: Boolean): java.lang.Double = {
    // kind: 0 = float, 1 = double, 2 = int, 3 = long (all exact in double
    // for the value ranges involved — same as the declarative cast)
    def get(arr: org.apache.spark.sql.catalyst.util.ArrayData,
            kind: Int, i: Int): Double = kind match {
      case 0 => arr.getFloat(i).toDouble
      case 1 => arr.getDouble(i)
      case 2 => arr.getInt(i).toDouble
      case _ => arr.getLong(i).toDouble
    }
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = get(a, aKind, i)
      val y = get(b, bKind, i)
      if (squared) { val d = x - y; acc += d * d } else acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Nearest-centroid argmin against an embedded codebook — ONE
    * primitive loop over k×dim doubles per row. Bit-identical to the
    * declarative `transform(typedlit(cb), c => VecFold(v, c, squared))`
    * + `array_min`/`array_position` formulation it replaces (same
    * left-to-right squared-distance fold, strict `<` so the FIRST index
    * wins distance ties, null on a null element / empty codebook) — a
    * claim scoped to non-NaN inputs and UNIFORM-dimension codebooks,
    * the only shapes [[graft.operators.Similarity]]'s training ever
    * produces. On the shapes it doesn't: all-NaN distances return null
    * here (no distance ever satisfies `< +∞`) where the declarative
    * array_min would pick index 1 (Spark orders NaN = NaN), and a
    * mixed-dimension codebook nulls at the first length mismatch where
    * the declarative chain would skip that centroid's null distance.
    * ~50× faster at k in the thousands: the declarative chain evaluates
    * an interpreted lambda per centroid per row and materializes the
    * full distance array; this touches no per-element expression
    * machinery at all. */
  def nearestCentroid(v: org.apache.spark.sql.catalyst.util.ArrayData,
                      kind: Int,
                      cb: Array[Array[Double]]): java.lang.Integer = {
    val n = v.numElements()
    var best = -1
    var bd = Double.PositiveInfinity
    var c = 0
    while (c < cb.length) {
      val cent = cb(c)
      if (cent.length != n) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) return null
        val x = kind match {
          case 0 => v.getFloat(i).toDouble
          case 1 => v.getDouble(i)
          case 2 => v.getInt(i).toDouble
          case _ => v.getLong(i).toDouble
        }
        val d = x - cent(i)
        acc += d * d
        i += 1
      }
      if (acc < bd) { bd = acc; best = c }
      c += 1
    }
    if (best < 0) null else java.lang.Integer.valueOf(best)
  }

  /** Portable 31-bit polynomial string hash — the
    * [[graft.operators.Dedup.polyHash]] fold (acc·31 + codepoint mod
    * 2³¹−1) in one primitive loop. */
  def polyHash(s: UTF8String): Long = {
    val p = 2147483647L
    var acc = 0L
    val it = s.toString.codePoints().iterator()
    while (it.hasNext) acc = (acc * 31 + it.nextInt()) % p
    acc
  }

  /** Unicode NFC normalization (java.text.Normalizer, canonical
    * composition) — the pre-dedup canonicalization that makes `é` and
    * `e`+combining-acute the same fingerprint. Pure JDK; DuckDB's
    * `nfc_normalize` implements the same Unicode algorithm, so oracles
    * replay it directly. Fast path: `Normalizer.isNormalized` skips the
    * copy for the (dominant) already-NFC case. */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Winnowing sketch over code points: polynomial k-gram hashes
    * (acc·257 + cp mod 2³¹−1, the [[graft.operators.Dedup.polyHash]]
    * arithmetic), minima over windows of `w` grams, distinct in
    * first-occurrence order. Edge behavior matches the declarative/oracle
    * formulation: gram/window ranges clamp (`greatest(…, 0)`), short
    * texts hash their truncated prefix. */
  def winnowSketch(s: UTF8String, k: Int, w: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val p = 2147483647L
    val b = 257L
    val cps = s.toString.codePoints().toArray
    val len = cps.length
    val nG = math.max(len - k, 0) + 1
    val grams = new Array[Long](nG)
    var i = 0
    while (i < nG) {
      var acc = 0L
      var j = i
      val end = math.min(i + k, len)
      while (j < end) { acc = (acc * b + cps(j)) % p; j += 1 }
      grams(i) = acc
      i += 1
    }
    val nW = math.max(nG - w, 0) + 1
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var jw = 0
    while (jw < nW) {
      var m = Long.MaxValue
      var x = jw
      val end = math.min(jw + w, nG)
      while (x < end) { if (grams(x) < m) m = grams(x); x += 1 }
      seen.add(java.lang.Long.valueOf(m))
      jw += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next().longValue(); o += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** One true BPE merge round over a symbol sequence: leftmost
    * non-overlapping occurrences of the adjacent pair (s1, s2) combine
    * into one symbol — the exact greedy semantics of byte-pair-encoding
    * tokenizers. A string `replace("s1 s2 ", "s1s2 ")` formulation is
    * subtly WRONG twice over: without a leading anchor it can split a
    * multi-char symbol (`(ab, c)` matches "b c "), and with one it skips
    * every other occurrence of an overlapping chain ("a b a b" →
    * "ab a b") — so the merge walks the array. The SQL oracle replays
    * the same semantics relationally (all candidates merge when
    * s1 ≠ s2 — overlap would force s1 = s2 — and run-offset parity picks
    * the leftmost-greedy pairs when s1 = s2). */
  def bpeMerge(arr: org.apache.spark.sql.catalyst.util.ArrayData,
               s1: UTF8String, s2: UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    val out = new Array[UTF8String](n)
    var i = 0
    var o = 0
    while (i < n) {
      val cur = arr.getUTF8String(i)
      if (i + 1 < n && cur.equals(s1) && arr.getUTF8String(i + 1).equals(s2)) {
        out(o) = UTF8String.concat(s1, s2)
        i += 2
      } else {
        out(o) = cur
        i += 1
      }
      o += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out.take(o))
  }

  /** Fingerprints of the `k`-code-point windows that start at WORD
    * BOUNDARIES of an (already normalized, single-spaced) text — the
    * [[graft.operators.TextOps.spanDedup]] hot path in one primitive
    * pass. Fingerprint = polynomial fold (acc·31 + cp) mod 2⁴³−57
    * (prime; acc·31 + cp < 2⁴⁸, int64-exact in any engine, so a SQL
    * oracle replays it with a list fold). The declarative
    * sequence-explode + boundary-filter + substr + hash tree carries the
    * full text into every position row before the projection collapses
    * it — same trap the [[charNgrams]] rewrite removed. */
  def anchorWindowHashes(s: UTF8String, k: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val p = 8796093022151L // 2^43 - 57
    val cps = s.toString.codePoints().toArray
    val len = cps.length
    var n = 0
    var i = 0
    while (i <= len - k) {
      if (i == 0 || cps(i - 1) == ' ') n += 1
      i += 1
    }
    val out = new Array[Long](n)
    var o = 0
    i = 0
    while (i <= len - k) {
      if (i == 0 || cps(i - 1) == ' ') {
        var acc = 0L
        var j = i
        while (j < i + k) { acc = (acc * 31 + cps(j)) % p; j += 1 }
        out(o) = acc
        o += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** `normalizeNumerics` (T2) as a ternary codegen'd expression:
  * normalize_numerics(str, thousandSep, decimalSep). */
case class NormalizeNumeric(child: Expression, thousand: Expression, decimal: Expression)
    extends TernaryExpression {
  override def first: Expression = child
  override def second: Expression = thousand
  override def third: Expression = decimal
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(s: Any, t: Any, d: Any): Any =
    GraftExpressions.normalizeNumerics(
      s.asInstanceOf[UTF8String], t.asInstanceOf[UTF8String], d.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, t, d) =>
      s"graft.plans.GraftExpressions.normalizeNumerics($s, $t, $d)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** A coercion leg of the battery (T8) as a codegen'd unary expression
  * over a string: a static helper of [[GraftExpressions]] does the work
  * and returns the boxed value, or null — the reference's `undef`. */
sealed trait StringCoercion extends UnaryExpression {
  override def nullable: Boolean = true

  /** The helper's result for a non-null input. */
  protected def coerce(s: UTF8String): AnyRef

  /** Java source of the same helper call on the input `arg`. */
  protected def coerceCode(ctx: CodegenContext, arg: String): String

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else coerce(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val childGen = child.genCode(ctx)
    val boxed = ctx.freshName("boxed")
    val boxedType = CodeGenerator.boxedType(dataType)
    val javaType = CodeGenerator.javaType(dataType)
    val unboxed =
      if (CodeGenerator.isPrimitiveType(dataType)) s"$boxed.${javaType}Value()" else boxed
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        if (!${childGen.isNull}) {
          $boxedType $boxed = ($boxedType) ${coerceCode(ctx, childGen.value)};
          if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $unboxed; }
        }
      """)
  }
}

/** Numeric coercion battery to a double; NULL for non-numeric shapes. */
case class CoerceNumeric(child: Expression) extends StringCoercion {
  override def dataType: DataType = DoubleType
  override protected def coerce(s: UTF8String): AnyRef = GraftExpressions.coerceNumericBoxed(s)
  override protected def coerceCode(ctx: CodegenContext, arg: String): String =
    s"graft.plans.GraftExpressions.coerceNumericBoxed($arg)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Numeric coercion battery read into an integral or decimal target type
  * ([[GraftExpressions.coerceNumberBoxed]]): NULL for non-numeric shapes
  * and for values out of the type's range. */
case class CoerceNumber(child: Expression, dataType: DataType) extends StringCoercion {
  require(dataType.isInstanceOf[DecimalType] || dataType == LongType || dataType == IntegerType,
    s"coerce_number targets a decimal, bigint or int type, not $dataType")
  override protected def coerce(s: UTF8String): AnyRef =
    GraftExpressions.coerceNumberBoxed(s, dataType)
  override protected def coerceCode(ctx: CodegenContext, arg: String): String =
    s"graft.plans.GraftExpressions.coerceNumberBoxed($arg, " +
      s"${ctx.addReferenceObj("targetType", dataType, classOf[DataType].getName)})"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Date/time coercion cascade to the canonical ODBC string (shape only). */
case class CoerceDateTime(child: Expression) extends StringCoercion {
  override def dataType: DataType = StringType
  override protected def coerce(s: UTF8String): AnyRef = GraftExpressions.coerceDateTimeBoxed(s)
  override protected def coerceCode(ctx: CodegenContext, arg: String): String =
    s"graft.plans.GraftExpressions.coerceDateTimeBoxed($arg)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Date/time coercion cascade straight to a `DateType` or `TimestampType`
  * value (the timestamp in the session time zone), with no canonical
  * string in between: NULL where the cascade rejects the value or its
  * fields are not a calendar date and time of day. */
case class CoerceDateTimeValue(child: Expression, dataType: DataType, cutoffYr2000: Int,
                               timeZoneId: Option[String] = None)
    extends StringCoercion with TimeZoneAwareExpression {
  require(dataType == DateType || dataType == TimestampType,
    s"coerce_datetime_value targets date or timestamp, not $dataType")
  override def withTimeZone(tz: String): TimeZoneAwareExpression = copy(timeZoneId = Option(tz))
  override protected def coerce(s: UTF8String): AnyRef =
    if (dataType == DateType) GraftExpressions.coerceDateBoxed(s, cutoffYr2000)
    else GraftExpressions.coerceTimestampBoxed(s, cutoffYr2000, zoneId)
  override protected def coerceCode(ctx: CodegenContext, arg: String): String =
    if (dataType == DateType) s"graft.plans.GraftExpressions.coerceDateBoxed($arg, $cutoffYr2000)"
    else s"graft.plans.GraftExpressions.coerceTimestampBoxed($arg, $cutoffYr2000, " +
      s"${ctx.addReferenceObj("zone", zoneId, "java.time.ZoneId")})"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Boolean coercion cascade (T8: WAHR/FALSCH/true/false/0/1 forms). */
case class CoerceBool(child: Expression) extends StringCoercion {
  override def dataType: DataType = BooleanType
  override protected def coerce(s: UTF8String): AnyRef = GraftExpressions.coerceBoolBoxed(s)
  override protected def coerceCode(ctx: CodegenContext, arg: String): String =
    s"graft.plans.GraftExpressions.coerceBoolBoxed($arg)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Winnowing sketch ([[graft.operators.TextOps.winnow]]'s hot path) as a
  * single codegen'd expression: k-gram polynomial hashes + window minima +
  * first-occurrence dedup in one tight primitive loop. The declarative
  * higher-order-function formulation evaluates interpreted (ArrayTransform
  * has no codegen) and re-walks the expression tree per gram — O(len·k)
  * boxed node evaluations per document; this is the same arithmetic at
  * O(len·k) primitive long ops, ~100× faster per row and inside
  * whole-stage codegen. Semantics (clamped edges, empty text → sketch
  * [0]) mirror the DuckDB oracle's generate_series/list_reduce replay
  * exactly. */
case class WinnowSketch(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, LongType}
  require(k > 0 && w > 0, "need k > 0 and w > 0")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(s: Any): Any =
    GraftExpressions.winnowSketch(s.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.plans.GraftExpressions.winnowSketch($s, $k, $w)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Shingle explosion's hot path ([[graft.operators.Dedup.shingles]]) as a
  * codegen'd expression — the declarative transform/slice/concat_ws tree
  * evaluates interpreted per shingle. Feeds every Jaccard-family dedup
  * join and the decontamination/curation gates. */
case class ShingleArray(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, StringType}
  require(n > 0, "need n > 0")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(s: Any): Any =
    GraftExpressions.shingles(s.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.GraftExpressions.shingles($s, $n)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Fused shingle + hash ([[GraftExpressions.shingleHashes]]): the word
  * n-gram hashes of the normalized text in one codegen'd pass, hashing
  * byte/char SLICES of the per-doc normalized buffer instead of
  * materializing one UTF8String per shingle and hashing it a step
  * later. Values are bit-identical to `xxhash64(shingle)` (poly=false)
  * / `PolyHash(shingle)` (poly=true) over [[ShingleArray]]'s elements —
  * NativeParitySpec asserts the elementwise equality. Feeds every
  * Jaccard-family scan (q20/q21/q53/q138/q163) and the signature-store
  * builders. */
case class ShingleHashArray(child: Expression, n: Int, poly: Boolean)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, LongType}
  require(n > 0, "need n > 0")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(s: Any): Any =
    GraftExpressions.shingleHashes(s.asInstanceOf[UTF8String], n, poly)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.plans.GraftExpressions.shingleHashes($s, $n, $poly)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** One true BPE merge round ([[GraftExpressions.bpeMerge]]) as a
  * codegen'd expression over a symbol array. */
case class BpeMergePairs(child: Expression, s1: String, s2: String)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, StringType}
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  private val u1 = UTF8String.fromString(s1)
  private val u2 = UTF8String.fromString(s2)

  override protected def nullSafeEval(a: Any): Any =
    GraftExpressions.bpeMerge(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], u1, u2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r1 = ctx.addReferenceObj("bpeS1", u1, classOf[UTF8String].getName)
    val r2 = ctx.addReferenceObj("bpeS2", u2, classOf[UTF8String].getName)
    defineCodeGen(ctx, ev, a =>
      s"graft.plans.GraftExpressions.bpeMerge($a, $r1, $r2)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Word-anchored window fingerprints
  * ([[GraftExpressions.anchorWindowHashes]]) as a codegen'd expression —
  * the duplicated-span detector's hot path. */
case class AnchorWindowHashes(child: Expression, k: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, LongType}
  require(k > 0, "need k > 0")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(s: Any): Any =
    GraftExpressions.anchorWindowHashes(s.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.GraftExpressions.anchorWindowHashes($s, $k)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Normalized character n-grams ([[GraftExpressions.charNgrams]]) as a
  * codegen'd expression — the LM-fluency scorer's hot path. */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, StringType}
  require(n > 0, "need n > 0")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(s: Any): Any =
    GraftExpressions.charNgrams(s.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.GraftExpressions.charNgrams($s, $n)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Token n-grams ([[GraftExpressions.tokenNgrams]]) as a codegen'd
  * expression — the repetition-stats bigram construction's hot path. The
  * declarative transform/sequence/slice/concat_ws tree it replaces
  * evaluates interpreted per window, single-threaded when the source
  * parquet is one split. */
case class TokenNgrams(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, StringType}
  require(n > 0, "need n > 0")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(a: Any): Any =
    GraftExpressions.tokenNgrams(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.GraftExpressions.tokenNgrams($a, $n)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Dot product (`squared = false`) or squared L2 distance (`squared =
  * true`) between two numeric arrays as one codegen'd primitive loop —
  * the embedding-similarity hot path. The declarative
  * `aggregate(zip_with(...))` tree it replaces evaluates interpreted,
  * re-walking boxed expression nodes per vector element on every scored
  * pair; this is the same left-fold arithmetic (bit-exact, see
  * [[GraftExpressions.vecFold]]) inside whole-stage codegen. */
case class VecFold(left: Expression, right: Expression, squared: Boolean)
    extends BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def kindOf(e: Expression): Int =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType   => 0
      case DoubleType  => 1
      case IntegerType => 2
      case LongType    => 3
    }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"VecFold needs numeric-array inputs, got ${left.dataType} / ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftExpressions.vecFold(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      kindOf(left), kindOf(right), squared)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("vecFold")
      s"""
      java.lang.Double $tmp = graft.plans.GraftExpressions.vecFold(
        $a, $b, ${kindOf(left)}, ${kindOf(right)}, $squared);
      if ($tmp == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $tmp.doubleValue(); }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid assignment ([[GraftExpressions.nearestCentroid]])
  * as a codegen'd expression — the inner loop of the whole semantic
  * family (k-means training passes, semDedup assignment, drift audits,
  * IVF corpus quantization). The codebook rides along as a reference
  * object (one `double[][]` per task), so the generated code is a
  * single static call regardless of k — no k-element literal array, no
  * interpreted lambda per centroid. */
case class NearestCentroid(child: Expression, codebook: Seq[Seq[Double]])
    extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  @transient private lazy val cb: Array[Array[Double]] =
    codebook.map(_.toArray).toArray

  private def kind: Int =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType   => 0
      case DoubleType  => 1
      case IntegerType => 2
      case LongType    => 3
    }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"NearestCentroid needs a numeric-array input, got $other")
    }

  override protected def nullSafeEval(v: Any): Any =
    GraftExpressions.nearestCentroid(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], kind, cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cbRef = ctx.addReferenceObj("codebook", cb, "double[][]")
      val tmp = ctx.freshName("nearest")
      s"""
      java.lang.Integer $tmp = graft.plans.GraftExpressions.nearestCentroid(
        $v, $kind, $cbRef);
      if ($tmp == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $tmp.intValue(); }
      """
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Portable polynomial hash ([[graft.operators.Dedup.polyHash]]) as a
  * codegen'd expression (the declarative char-fold runs interpreted per
  * token). */
case class PolyHash(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.LongType
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(s: Any): Any =
    GraftExpressions.polyHash(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.GraftExpressions.polyHash($s)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Unicode NFC normalization as a codegen'd expression
  * ([[GraftExpressions.nfcNormalize]]): canonical composition before
  * fingerprinting/dedup, with an isNormalized fast path. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(s: Any): Any =
    GraftExpressions.nfcNormalize(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.GraftExpressions.nfcNormalize($s)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Stopword / marker-word / blocklist hit counting
  * ([[graft.operators.TextOps.matchCount]]'s hot path) as one codegen'd
  * expression: tokenize once, probe a shared hash set — replaces the
  * interpreted per-token `filter`+`isin` lambda tree that dominated the
  * text-quality and language-ID scans. */
case class TokenMatchCount(child: Expression, words: Seq[String])
    extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  @transient private lazy val wordSet: java.util.HashSet[String] = {
    val h = new java.util.HashSet[String]()
    words.foreach(h.add)
    h
  }

  override protected def nullSafeEval(s: Any): Any =
    GraftExpressions.tokenMatchCount(s.asInstanceOf[UTF8String], wordSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordSet", wordSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, s =>
      s"graft.plans.GraftExpressions.tokenMatchCount($s, (java.util.HashSet) $ref)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Element-wise SUM over fixed-length `array<long>` rows — the SimHash
  * per-bit accumulation as ONE aggregate column: each input row carries a
  * token instance's full ±1 contribution vector, and the group's sums
  * arrive without exploding `bits` rows per instance (the explode
  * formulation pushed 1.2e10 rows through the aggregate at sf10 — the
  * measured dominator of the dedup cascade; this keeps the row count at
  * the instance count with a `bits`-wide buffer). Declarative
  * (`zip_with(buf, row, +)`), so map-side partial aggregation and buffer
  * merging come for free.
  */
case class ArraySumAgg(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  import org.apache.spark.sql.types.{ArrayType, LongType}

  private val arrTpe = ArrayType(LongType, containsNull = true)
  override def dataType: DataType = arrTpe
  override def nullable: Boolean = false

  private lazy val buf = AttributeReference("sumbuf", arrTpe, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(buf)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(Seq.fill(n)(0L), arrTpe))

  private def ewAdd(a: Expression, b: Expression): Expression = {
    val x = NamedLambdaVariable("x", LongType, nullable = true)
    val y = NamedLambdaVariable("y", LongType, nullable = true)
    ZipWith(a, b, LambdaFunction(Add(x, y), Seq(x, y)))
  }
  // a null input array must be skipped (like the built-in sum), not fed
  // to zip_with - whose null-out would poison the buffer for the group
  override lazy val updateExpressions: Seq[Expression] =
    Seq(If(IsNull(child), buf, ewAdd(buf, child)))
  override lazy val mergeExpressions: Seq[Expression] =
    Seq(ewAdd(buf.left, buf.right))
  override lazy val evaluateExpression: Expression = buf

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Element-wise minimum over fixed-length `array<long>` rows — the MinHash
  * signature merge of rows that share an id (the signature of a union of
  * shingle sets is the element-wise MIN of the sets' signatures) as ONE
  * aggregate column instead of `numHashes` separate `min` aggregates
  * (which widen the plan and the aggregation buffer schema 32-fold). Declarative: update/merge are Catalyst expressions
  * (`zip_with(buf, row, least)`), so map-side partial aggregation and
  * buffer merging come for free, exactly like the built-in `min`.
  */
case class ArrayMinAgg(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  import org.apache.spark.sql.types.{ArrayType, LongType}

  private val arrTpe = ArrayType(LongType, containsNull = true)
  override def dataType: DataType = arrTpe
  override def nullable: Boolean = false

  private lazy val buf = AttributeReference("minbuf", arrTpe, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(buf)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(Seq.fill(n)(Long.MaxValue), arrTpe))

  private def ewMin(a: Expression, b: Expression): Expression = {
    val x = NamedLambdaVariable("x", LongType, nullable = true)
    val y = NamedLambdaVariable("y", LongType, nullable = true)
    ZipWith(a, b, LambdaFunction(Least(Seq(x, y)), Seq(x, y)))
  }
  // a null input array must be skipped (like the built-in min), not fed to
  // zip_with — whose null-out would poison the buffer for the whole group
  override lazy val updateExpressions: Seq[Expression] =
    Seq(If(IsNull(child), buf, ewMin(buf, child)))
  override lazy val mergeExpressions: Seq[Expression] =
    Seq(ewMin(buf.left, buf.right))
  override lazy val evaluateExpression: Expression = buf

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Bounded "k smallest values" aggregate over any orderable child type
  * (longs, strings, structs — struct ordering is field-by-field, so a
  * `struct(-tf, doc_id)` child yields "top-k by tf desc, id asc").
  *
  * This is the mergeable-sketch building block behind KMV distinct
  * estimation, per-group deterministic sampling, and per-key top-k
  * (postings lists): the aggregation buffer is a sorted array capped at
  * `k`, so map-side partial aggregation keeps at most `k` elements per
  * group per task — a hot key (stopword token, skewed stratum) costs the
  * same bounded buffer as a cold one, unlike a window `row_number` which
  * sorts the whole partition. Update/merge are Catalyst expressions
  * (`slice(array_sort(concat(buf, array(x))), 1, k)`), so partial
  * aggregation and buffer merging come for free like the built-in `min`.
  *
  * `distinct = true` dedupes the buffer on every step (KMV semantics: the
  * k smallest DISTINCT hash values). Per-row cost is O(k log k) on a
  * k-element array — constant-bounded; intended for small k (≤ 64).
  */
case class BoundedMinKAgg(child: Expression, k: Int, distinct: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  import org.apache.spark.sql.types.ArrayType
  require(k > 0, s"k must be positive, got $k")

  private lazy val arrTpe = ArrayType(child.dataType, containsNull = false)
  override def dataType: DataType = arrTpe
  override def nullable: Boolean = false

  private lazy val buf = AttributeReference("minkbuf", arrTpe, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(buf)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(Seq.empty[Any], arrTpe))

  private def trim(merged: Expression): Expression = {
    val deduped = if (distinct) ArrayDistinct(merged) else merged
    Slice(new SortArray(deduped), Literal(1), Literal(k))
  }
  // nulls are skipped like the built-in min (a null element would also
  // violate the buffer's containsNull = false)
  override lazy val updateExpressions: Seq[Expression] =
    Seq(If(IsNull(child), buf, trim(Concat(Seq(buf, CreateArray(Seq(child)))))))
  override lazy val mergeExpressions: Seq[Expression] =
    Seq(trim(Concat(Seq(buf.left, buf.right))))
  override lazy val evaluateExpression: Expression = buf

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
