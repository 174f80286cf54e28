package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): one JSON line with per-query seconds
  * on SPARK_GRAFT_SF_DIR. Each query gets one warm-up execution (JIT +
  * codegen + file-listing caches), then the minimum of two timed runs;
  * results are forced through the noop sink so the full plan executes
  * (count() can elide sorts/projections).
  *
  * The record defends itself against co-tenant noise (round 3 recorded a
  * 9.9 s entry that re-timed quiet at 1.1 s): the 1-minute loadavg is
  * sampled before every timed run and recorded per query, and any query
  * whose best run was measured under load above [[Bench.LoadThresh]] is
  * re-timed at the end of the suite (up to two extra runs, min kept) —
  * by then the burst has usually passed, and if it hasn't, the entry
  * lands in the record's `unstable` list. A decision (like the driver's
  * 2× gate) should trust entries whose runs converged (`query_spread`
  * near 1) and re-time the `unstable` rest.
  *
  * Record hygiene: `SPARK_GRAFT_ONLY` subset runs write `BENCH_subset
  * .json` (never the canonical `BENCH.json`). A full run that qualifies
  * as canonical is ALSO copied to `BENCH_canonical.json`, which
  * non-canonical runs never touch — so a loaded end-of-round run can
  * overwrite `BENCH.json` with a self-flagged record (round 11 did)
  * without evicting the steering-grade number from the tree, and the
  * prior-quiet reference chain reads from the canonical file first. A
  * full run self-qualifies
  * against the previous quiet record at the same sf on THREE axes:
  * (a) per query — any value >2× its prior-quiet counterpart is
  * re-timed in the defense pass (a sustained burst pollutes both timed
  * runs equally, which the spread trigger can't see; round 10 shipped
  * four such 2-11× phantoms under a canonical stamp) and reported in
  * `over_prior` if it persists; (b) total >1.3× prior quiet; (c) start
  * loadavg above 2×cores/8 — a run that BEGAN loaded refuses the
  * canonical stamp outright. (b) or (c) mark the record
  * `"quiet": false` with the trigger, so loaded records self-identify
  * instead of reading as regressions.
  *
  * KEEP-THE-FASTER canonical rule (round 14): beyond the quiet gates, a
  * run may replace `BENCH_canonical.json` only if its calib-scaled
  * total over the gates BOTH records share is within 5% of the standing
  * canonical's — a slower-scaled run (box state the load gates missed,
  * e.g. round 13's q21 phantom from a start at loadavg 5.02 under the
  * 6.4 gate) writes BENCH.json but self-flags `canonical:false` with
  * the comparison in `quiet_trigger`. Real regressions then surface as
  * persistent `over_prior` entries against the standing record instead
  * of silently becoming the new baseline; an intentional perf tradeoff
  * re-anchors by deleting the canonical file explicitly.
  */
object Bench {

  /** Max/min ratio of a query's two timed runs above which the entry is
    * considered noise-suspect and re-timed at suite end. Steady state
    * (warm JIT, min-of-2) stays well under this; an external CPU burst
    * inflates one run but rarely both equally. Absolute loadavg is NOT
    * used as the trigger — the bench's own local[32] execution
    * legitimately drives it past any fixed threshold. */
  val SpreadThresh = 1.5

  private[graft] def jsonField(src: String, key: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(key) + "\":(\"[^\"]*\"|[^,}]*)")
      .matcher(src)
    if (m.find()) Some(m.group(1).stripPrefix("\"").stripSuffix("\"")) else None
  }

  private[graft] def jsonNumObj(src: String, key: String): Map[String, Double] = {
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(key) + "\":\\{([^}]*)\\}")
      .matcher(src)
    if (!m.find()) Map.empty
    else m.group(1).split(",").iterator.flatMap { kv =>
      kv.split(":") match {
        case Array(k, v) => v.trim.toDoubleOption
          .map(k.trim.stripPrefix("\"").stripSuffix("\"") -> _)
        case _ => None
      }
    }.toMap
  }

  // Locale.ROOT: the f-interpolator honors the JVM default locale, and
  // a comma decimal separator would corrupt the JSON record
  private[graft] def fmt(d: Double): String =
    if (d.isNaN) "-1"
    else String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

  /** The KEEP-THE-FASTER comparison, pure so BenchRuleSpec gates it:
    * Some(reason) when this run's calib-scaled total over the gates it
    * SHARES with the standing canonical record exceeds the record's by
    * more than 5% — such a run must not evict the canonical. None when
    * there is no comparable standing record (different sf, no calib,
    * no shared gates) or the run is at least as fast. */
  private[graft] def slowerThanStanding(newQueries: Map[String, Double],
                                        newCalib: Double,
                                        canonicalSrc: Option[String],
                                        sfDir: String): Option[String] =
    if (newCalib <= 0) None
    else canonicalSrc.flatMap { src =>
      if (!jsonField(src, "sf").contains(sfDir)) None
      else {
        val priorCalib = jsonField(src, "calib_sec")
          .flatMap(_.toDoubleOption).getOrElse(-1.0)
        val pq = jsonNumObj(src, "queries").filter(_._2 > 0)
        val common = newQueries.toSeq.collect {
          case (k, v) if v >= 0 && pq.contains(k) => (v, pq(k))
        }
        if (priorCalib <= 0 || common.isEmpty) None
        else {
          // CALIBRATION-ARTIFACT GUARD (round 15): the calib workload
          // itself can mis-measure — a quiet r15 run recorded calib
          // 1.92 against the round's 1.31-1.48 band while its RAW
          // common-gate total matched the standing record within 0.6%,
          // so its scaled total read 35% "faster", evicted the honest
          // record, and would have made every later honest run a
          // refusal (the r13 phantom class, inverted). The artifact
          // SIGNATURE is calib moving >25% while the raw totals stayed
          // level (±10%): a genuinely slower/faster box moves BOTH
          // together (the existing 2x-box tests), a mis-measured calib
          // moves alone. Under the signature the scaled comparison is
          // meaningless and the decision falls back to RAW common-gate
          // totals (same box, hours apart — raw is the better
          // comparator exactly when calib is the thing that moved).
          // A real regression that this basis-switch could mask still
          // surfaces through over_prior, which is the documented
          // regression signal; the eviction rule only guards the
          // canonical chain.
          val rc = newCalib / priorCalib
          val newRaw = common.map(_._1).sum
          val priorRaw = common.map(_._2).sum
          val rq = if (priorRaw > 0) newRaw / priorRaw else 1.0
          val calibArtifact =
            (rc > 1.25 || rc < 0.8) && rq >= 0.9 && rq <= 1.1
          val (newTot, priorTot, basis) =
            if (!calibArtifact)
              (newRaw / newCalib, priorRaw / priorCalib, "scaled")
            else (newRaw, priorRaw,
              s"raw; calib artifact (calib ${fmt(rc)}x, raw ${fmt(rq)}x)")
          if (newTot > priorTot * 1.05)
            Some(s"$basis common-gate total ${fmt(newTot)} >" +
              s" 1.05x standing canonical ${fmt(priorTot)}" +
              " — keeping the faster record")
          else None
        }
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // candidate-id pushdown (Dedup.lshJudgeChunk): let bounded IN
      // lists reach the parquet reader as OR-of-equals so id-sorted
      // files page-skip, instead of the default-10 cutoff
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def load1(): Double = try {
      scala.io.Source.fromFile("/proc/loadavg").getLines().next()
        .split(" ")(0).toDouble
    } catch { case _: Throwable => -1.0 }

    // Start-of-run load, sampled before ANY bench work: the suite's own
    // local[32] execution legitimately saturates the box, so only the
    // PRE-EXISTING pressure is a valid disqualifier. Round 10's
    // end-of-round snapshot started at loadavg 24.6, passed the
    // total-level 1.3× check, and still carried four 2-11× per-query
    // load phantoms — a record that starts on a loaded box must refuse
    // the canonical stamp no matter what its total says.
    val loadStart = load1()

    /** One execution = (prepare_sec, exec_sec). `prepare` is the gate
      * driver's own wall — for the composed store gates (q212/q220/
      * q224/q227 style) that is the IN-GATE corpus-scale store BUILD
      * plus mutations, executed eagerly before the returned plan; the
      * timed `value` is the returned plan's execution (the judge /
      * read path). Recording both decomposes build-vs-delta cost in
      * the subset records, so a composed gate's sf1/sf10 ratio can be
      * read per phase instead of as one conflated number. */
    def execute(name: String): (Double, Double) = {
      val tq0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      ((t0 - tq0) / 1e9, (System.nanoTime() - t0) / 1e9)
    }

    /** Ids of the RDDs persisted right now — taken before each gate so
      * [[clearAll]] frees only what that gate created. */
    def persistedIds(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet

    /** Between-query cleanup. `clearCache` drops SQL-cached relations,
      * but LOCALCHECKPOINT blocks (the Lineage plan cuts) are plain
      * persisted RDDs the catalog never sees — without the RDD sweep
      * they accumulate across 231 queries × 3 executions and lean on
      * storage memory for the whole suite (r15 advisor finding). Only
      * the RDDs persisted since `before` (the gate's own) are freed —
      * anything persisted before the gate is not its to drop — and a
      * gate RDD still persisted afterwards fails the gate loudly
      * instead of leaking into the next one. */
    def clearAll(before: Set[Int]): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs
        .collect { case (id, rdd) if !before(id) => rdd }
        .foreach(_.unpersist(false))
      val left = persistedIds() -- before
      if (left.nonEmpty)
        throw new IllegalStateException(
          s"gate left persisted RDDs ${left.mkString(",")} after cleanup")
    }

    /** One timed run — (exec_sec, load, prepare_sec); the load sample
      * is taken BEFORE the run so it reflects pressure the run started
      * under. */
    def timed(name: String): (Double, Double, Double) = {
      val l = load1()
      val (prep, exec) = execute(name)
      (exec, l, prep)
    }

    // measurement state per query: best secs, load of the best run, and
    // the SPREAD between the two timed runs (max/min) — the instability
    // signal. Absolute loadavg cannot distinguish co-tenant noise from
    // the bench's own 32-thread execution (which legitimately drives
    // loadavg past any fixed threshold and IS the measurement); an
    // external burst, in contrast, hits one of the two runs harder than
    // the other, so a wide spread marks exactly the entries worth
    // re-timing. Round-3's 9.9s-vs-1.1s q33 entry had spread ~9.
    final case class M(secs: Double, load: Double, spread: Double,
                       retimes: Int, prep: Double = -1.0)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, M]

    // Fixed calibration workload (hash 8·10⁹ longs across the session's
    // cores, data-independent): measured at suite start AND end, the
    // minimum goes into the record as `calib_sec`. Cross-day totals on
    // driver boxes have swung ~1.4× on identical builds; dividing two
    // records' totals by their calib_sec cancels the box's CPU speed
    // and co-tenant pressure, which wall-clock alone can't.
    def calibRun(n: Long): Unit =
      spark.range(0L, n, 1L, cpus.toInt)
        .selectExpr("bit_xor(xxhash64(id)) AS h") // xor: no ANSI overflow
        .write.format("noop").mode("overwrite").save()
    def calibrate(): Double = {
      calibRun(10000000L) // warm-up: JIT + codegen, not timed
      val t0 = System.nanoTime()
      calibRun(8000000000L)
      (System.nanoTime() - t0) / 1e9
    }
    val calibStart = try calibrate() catch { case e: Throwable =>
      System.err.println(s"[bench] calibration failed: ${e.getMessage}"); -1.0 }

    // SPARK_GRAFT_ONLY=q20_...,q21_... benches a subset (scale smokes)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // The last full-suite record at the same sf, read BEFORE this run
    // overwrites it. Subset runs never provide a reference (their total
    // reflects only the subset) and never clobber the canonical file —
    // round 2 lost a full-suite record exactly that way. Only records
    // that were themselves quiet (or predate the flag) qualify, so one
    // loaded record can't poison the chain. Besides the total, the
    // PER-QUERY values feed the defense pass: round 10's load phantoms
    // (0.2 s queries reading 2.4 s) sailed past the spread trigger
    // because BOTH their timed runs were equally polluted.
    val isSubset = only.isDefined
    val outFile = if (isSubset) "BENCH_subset.json" else "BENCH.json"
    // BENCH_canonical.json first: BENCH.json may be a self-flagged loaded
    // record (quiet:false) that would yield no reference at all, while the
    // canonical file always holds the last quiet full-suite run
    val (priorQuietTotal, priorQuietQueries): (Option[Double], Map[String, Double]) =
      Seq("BENCH_canonical.json", "BENCH.json").iterator.flatMap { f =>
        try {
          val p = java.nio.file.Paths.get(f)
          if (!java.nio.file.Files.exists(p)) None else {
            val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
            val sameSf = jsonField(src, "sf").contains(sfDir)
            val wasQuiet = jsonField(src, "quiet").forall(_ != "false")
            if (sameSf && wasQuiet)
              Some((if (isSubset) None
                else jsonField(src, "value").flatMap(_.toDoubleOption),
                jsonNumObj(src, "queries").filter(_._2 > 0)))
            else None
          }
        } catch { case _: Throwable => None }
      }.nextOption().getOrElse((None, Map.empty))
    names.foreach { name =>
      val before = persistedIds()
      try {
        execute(name) // warm-up (not timed)
        val a = timed(name)
        val b = timed(name)
        val best = if (a._1 <= b._1) a else b
        val spread = math.max(a._1, b._1) / math.max(1e-9, math.min(a._1, b._1))
        results(name) = M(best._1, best._2, spread, 0,
          prep = math.min(a._3, b._3))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        results(name) = M(-1.0, -1.0, -1.0, 0)
      } finally clearAll(before)
    }

    // defense pass: re-time every query whose two runs disagreed OR
    // whose kept value reads >2× its value in the prior quiet record —
    // the burst has usually passed by the end of the suite. The spread
    // trigger alone is not enough: a sustained co-tenant burst pollutes
    // BOTH timed runs equally (round 10: q151 0.20→2.39 s with spread
    // ~1), and only the prior-quiet comparison catches that. A re-timed
    // value that STAYS >2× prior is a real regression and is reported
    // in `over_prior`, not silently kept.
    def overPrior(name: String, secs: Double): Boolean =
      priorQuietQueries.get(name).exists(p => secs > 2 * p)
    names.foreach { name =>
      val m = results(name)
      if (m.secs >= 0 && (m.spread > SpreadThresh || overPrior(name, m.secs))) {
        var cur = m
        var tries = 0
        while (tries < 2 &&
          (cur.spread > SpreadThresh || overPrior(name, cur.secs))) {
          tries += 1
          val before = persistedIds()
          try {
            val (s, l, p) = timed(name)
            val agree = math.max(s, cur.secs) / math.max(1e-9, math.min(s, cur.secs))
            // keep the faster measurement; the new spread is the re-run's
            // agreement with it — two runs that agree close the case
            if (s < cur.secs) cur = M(s, l, agree, tries, math.min(p, cur.prep))
            else cur = M(cur.secs, cur.load, agree, tries, math.min(p, cur.prep))
          } catch { case e: Throwable =>
            System.err.println(s"[bench] retime $name failed: ${e.getMessage}")
            tries = 2
          } finally clearAll(before)
        }
        results(name) = cur
      }
    }

    // Locale.ROOT: the f-interpolator honors the JVM default locale, and
    // a comma decimal separator would corrupt the JSON record
    val qs = results.map { case (k, m) => "\"" + k + "\":" + fmt(m.secs) }
      .mkString("{", ",", "}")
    val loads = results.map { case (k, m) => "\"" + k + "\":" + fmt(m.load) }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, m) => "\"" + k + "\":" + fmt(m.spread) }
      .mkString("{", ",", "}")
    val retimed = results.collect { case (k, m) if m.retimes > 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // driver-side prepare wall (in-gate store builds/mutations) per
    // query, emitted where it is material — the build-vs-delta
    // decomposition of the composed gates
    val preps = results.collect { case (k, m) if m.prep > 0.05 =>
      "\"" + k + "\":" + fmt(m.prep) }
      .mkString("{", ",", "}")
    // the prepare bill's top 10, ordered — the at-a-glance drift view
    // (a store-write regression hides in prepare, not exec; r14's bill
    // was 605 s against 130 s of gated exec before the shared-fixture
    // work, and this list is what a round-over-round diff reads first)
    val prepTop = results.toSeq.filter(_._2.prep > 0.05)
      .sortBy(-_._2.prep).take(10)
      .map { case (k, m) => "[\"" + k + "\"," + fmt(m.prep) + "]" }
      .mkString("[", ",", "]")
    // entries whose runs never converged — treat their times as suspect
    val unstable = results.collect {
      case (k, m) if m.secs >= 0 && m.spread > SpreadThresh => "\"" + k + "\""
    }.mkString("[", ",", "]")
    // entries still >2× their prior-quiet value AFTER the defense pass:
    // either a real regression or a box too loaded to retime clean —
    // either way the one signal a round-over-round diff must start from
    val overPriorList = results.collect {
      case (k, m) if m.secs >= 0 && overPrior(k, m.secs) => "\"" + k + "\""
    }.mkString("[", ",", "]")
    val total = results.values.map(_.secs).filter(_ >= 0).sum
    // headline prepare wall (sum of the per-gate driver-side builds) —
    // emitted NEXT TO `value` so round-over-round prepare drift (store
    // builds getting slower) is visible in the canonical record itself,
    // not only in the sf1/sf10 side-records
    val prepTotal = results.values.map(_.prep).filter(_ > 0).sum
    // machine load at bench end: co-tenant CPU bursts can inflate wall
    // times several-fold, so the record carries its own noise diagnostic
    val load = try {
      scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(",")
    } catch { case _: Throwable => "" }
    // quiet self-qualification: a full run >1.3× the last quiet record at
    // the same sf is almost certainly co-tenant noise (round 4: driver
    // recorded 81.2 s at loadavg 5.2 vs the 59.0 s quiet record; every
    // "regression" evaporated on quiet re-time). Mark the record so
    // downstream readers stop treating loaded records as regressions.
    // A full-suite run that self-qualified as quiet is the CANONICAL
    // record for the round — loaded end-of-round driver runs (round 8:
    // loadavg 18, 125 s vs the 85 s quiet record) carry quiet:false and
    // canonical:false so no reader mistakes them for regressions.
    // Two independent disqualifiers, both recorded: (a) start loadavg —
    // a run that BEGAN on a loaded box can't be canonical even if its
    // total lands inside 1.3× (the load may have concentrated on a few
    // queries, as in round 10's four phantoms); (b) the total-level
    // check against the prior quiet record.
    val loadGate = 2.0 * cpus.toInt / 8.0
    val loadTrigger =
      if (loadStart > loadGate)
        Some(s"start loadavg ${fmt(loadStart)} > ${fmt(loadGate)} (2x cores/8)")
      else None
    val totalTrigger = priorQuietTotal match {
      case Some(ref) if ref > 0 && total > ref * 1.3 =>
        Some(s"total ${fmt(total)}s > 1.3x prior quiet ${fmt(ref)}s")
      case _ => None
    }
    val triggers = loadTrigger.toSeq ++ totalTrigger.toSeq
    // HYSTERESIS against threshold-straddling (round 12: a run at
    // load_start 7.81 vs the 8.0 refusal line replaced a quieter
    // record): a run that began in the top 20% of the allowed load
    // band is BORDERLINE — it may only claim canonical if it is
    // actually FASTER than the standing canonical record at this sf,
    // so a borderline box state can never replace a quieter, faster
    // record. A genuinely quiet start (<= 0.8x the gate) keeps the
    // plain replace-always rule.
    val borderline = triggers.isEmpty && loadStart > 0.8 * loadGate &&
      priorQuietTotal.exists(ref => total >= ref)
    // KEEP-THE-FASTER RULE (round 14, closing the round-13 gap): a run
    // may evict the standing canonical record only if it is at least
    // as fast CALIB-SCALED over the gates both records share — the
    // round-13 working-tree record started at loadavg 5.02 (< the 6.4
    // gate, so not borderline), was slower scaled than the committed
    // canonical (89.97 vs 88.31), carried a persisting 4× load phantom
    // on untouched code (q21 at 9.17 s vs the canonical 2.29), and was
    // still allowed to replace the faster record. Scaled and
    // common-gate so that box-speed swings cancel and a round that
    // ADDS gates can still re-anchor; 5% slack absorbs measurement
    // jitter so a genuinely-equal run refreshes the chain. A slower
    // run keeps its BENCH.json but self-flags canonical:false — a real
    // regression then shows up as persistent over_prior entries
    // against the standing record, which is the signal, not a silently
    // rewritten baseline.
    val calibEnd = try calibrate() catch { case e: Throwable =>
      System.err.println(s"[bench] calibration failed: ${e.getMessage}"); -1.0 }
    val calib = (calibStart, calibEnd) match {
      case (a, b) if a > 0 && b > 0 => math.min(a, b)
      case (a, b) => math.max(a, b)
    }
    val slower =
      if (isSubset) None
      else Bench.slowerThanStanding(
        results.collect { case (k, m) if m.secs >= 0 => k -> m.secs }.toMap,
        calib,
        try {
          val cp = java.nio.file.Paths.get("BENCH_canonical.json")
          if (java.nio.file.Files.exists(cp))
            Some(new String(java.nio.file.Files.readAllBytes(cp), "UTF-8"))
          else None
        } catch { case _: Throwable => None },
        sfDir)
    val subsetInfo = if (isSubset) s""","subset":true""" else ""
    val quietInfo =
      if (triggers.nonEmpty)
        s""","quiet":false,"canonical":false,"quiet_trigger":"${triggers.mkString("; ")}"""" +
          priorQuietTotal.map(r => s""","quiet_ref":${fmt(r)}""").getOrElse("")
      else if (borderline)
        s""","quiet":true,"canonical":false,"quiet_trigger":"borderline start loadavg ${fmt(loadStart)} > 0.8x gate ${fmt(loadGate)} and not faster than canonical"""" +
          priorQuietTotal.map(r => s""","quiet_ref":${fmt(r)}""").getOrElse("")
      else if (slower.isDefined)
        s""","quiet":true,"canonical":false,"quiet_trigger":"${slower.get}"""" +
          priorQuietTotal.map(r => s""","quiet_ref":${fmt(r)}""").getOrElse("")
      else priorQuietTotal match {
        case Some(ref) =>
          s""","quiet":true,"canonical":${!isSubset},"quiet_ref":${fmt(ref)}"""
        case None => s""","quiet":true,"canonical":${!isSubset}"""
      }
    // scaled_total = total / calib_sec: wall time in units of the fixed
    // calibration workload. Two records' scaled_totals compare directly
    // across boxes/days (the ~1.4× day-to-day CPU swing cancels); raw
    // `value` stays for absolute reads.
    val scaledInfo =
      if (calib > 0) s""","scaled_total":${fmt(total / calib)}""" else ""
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""prepare_total":${fmt(prepTotal)},"queries":$qs,""" +
        s""""query_load":$loads,"query_spread":$spreads,"retimed":$retimed,""" +
        s""""query_prepare":$preps,"prepare_top":$prepTop,""" +
        s""""unstable":$unstable,"over_prior":$overPriorList,""" +
        s""""sf":"$sfDir","loadavg":"$load","load_start":${fmt(loadStart)}""" +
        s""","calib_sec":${fmt(calib)},"calib_start":${fmt(calibStart)}""" +
        s""","calib_end":${fmt(calibEnd)}$scaledInfo$quietInfo$subsetInfo}"""
    // sbt interleaves [info]/WARN prefixes on stdout, which broke the
    // driver's parse in round 1 — persist the result line to a file too.
    // Subset runs (SPARK_GRAFT_ONLY) write BENCH_subset.json so a scale
    // smoke can never clobber the canonical full-suite record.
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    // canonical preservation: only canonical runs may touch
    // BENCH_canonical.json, so the tree always carries the last
    // steering-grade record even after a loaded run rewrites BENCH.json
    if (!isSubset && triggers.isEmpty && !borderline && slower.isEmpty)
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_canonical.json"),
        (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
