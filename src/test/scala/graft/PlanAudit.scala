package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan audit (run with `Test/runMain graft.PlanAudit [sfDir]`):
  * checks the properties the 100 TB design depends on — filters reaching
  * the parquet scan, dimension joins broadcast, no unexpected cartesian
  * products, whole-stage codegen spans present. Prints PASS/FAIL per
  * check; exits nonzero on failure.
  *
  * Each query's checks run inside a failure-isolating `audit` block: a
  * query that fails to plan (analysis error, missing column) records ONE
  * FAIL line and the remaining checks still run — a single broken query
  * must never silence the rest of the audit.
  */
object PlanAudit {
  /** Checks executed by the last [[run]] (PASS + FAIL) — the property
    * count README quotes; PlanAuditSpec asserts the two stay equal. */
  @volatile var checksRun: Int = 0

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE's plan wrapper hides codegen stages and join strategies from the
      // static plan string; the audit checks STATIC properties, so turn it
      // off here (prod sessions keep it on)
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val failures = run(spark, sfDir)
    println(if (failures == 0) "AUDIT OK" else s"AUDIT FAILURES: $failures")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  /** The audit body, callable from both the standalone main above and
    * [[PlanAuditSpec]] (so `sbt test` fails on a plan regression — a
    * dimension join falling back to shuffled-hash, a filter no longer
    * pushed — instead of waiting for someone to remember the manual
    * run). The session must have AQE disabled (see main). Returns the
    * failure count. */
  def run(spark: SparkSession, sfDir: String): Int = {
    // Audit the FULL operator trees: the default plan-cut (lazy
    // localCheckpoint, graft.operators.Lineage) replaces everything
    // below the cut with a `Scan ExistingRDD` stub, which had made the
    // blocked-join / partial-agg checks on the cut queries (q133/q146/
    // q148/q157/q164/q169...) vacuously green — a cartesian regression
    // in the hidden subtree would have passed (r15 advisor finding).
    // `off` keeps every subtree in the static plan this audit reads;
    // restored afterwards so a shared test session is unaffected.
    graft.operators.GraftConf.PlanCuts.withValue(spark, "off")(
      runChecks(spark, sfDir))
  }

  private def runChecks(spark: SparkSession, sfDir: String): Int = {
    var failures = 0
    checksRun = 0
    def check(name: String, cond: Boolean, detail: => String = ""): Unit = {
      checksRun += 1
      if (cond) println(s"PASS $name")
      else { println(s"FAIL $name $detail"); failures += 1 }
    }
    def plan(q: String): String =
      SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString
    // Failure isolation: an exception inside `body` (plan analysis error,
    // missing test table) is ONE recorded failure, not an audit abort.
    def audit(label: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        println(s"FAIL $label (exception: ${msg.linesIterator.next().take(300)})")
        failures += 1
      }

    // q2: all three predicates must reach the parquet scan
    audit("q2") {
      val p2 = plan("q2_revenue_filter")
      check("q2 pushes filters to scan",
        p2.contains("PushedFilters: [IsNotNull(l_shipdate)"),
        "no PushedFilters on l_shipdate")
      check("q2 prunes columns",
        p2.contains("ReadSchema") && !p2.contains("l_orderkey"),
        "scan reads columns the query never uses")
    }

    // q3/q5: dimension joins must be broadcast, no shuffled hash join of
    // the fact table against a dim
    audit("q3") {
      val p3 = plan("q3_top_orders")
      check("q3 broadcasts customer dim", p3.contains("BroadcastHashJoin"))
    }
    audit("q5") {
      val p5 = plan("q5_nation_revenue")
      check("q5 broadcasts all dims",
        "BroadcastHashJoin".r.findAllIn(p5).size >= 4,
        s"expected >=4 broadcast joins, got ${"BroadcastHashJoin".r.findAllIn(p5).size}")
      check("q5 no cartesian product", !p5.contains("CartesianProduct"))
    }

    // q1: partial aggregation (map-side combine) before the exchange
    audit("q1") {
      val p1 = plan("q1_pricing_summary")
      check("q1 has partial aggregation",
        p1.contains("partial_sum") || p1.contains("partial_count"))
      check("q1 whole-stage codegen", p1.contains("*(")) // `*(N)` = codegen span
    }

    // q4: semi join stays a join (no row explosion)
    audit("q4") {
      check("q4 uses semi join", plan("q4_semi_join").contains("LeftSemi"))
    }

    // q23: the only intentional cross join (brute-force scoring)
    audit("q23") {
      check("q23 broadcasts the query side",
        plan("q23_sim_topk").contains("BroadcastNestedLoopJoin"))
    }
    // q24 must NOT be cartesian: cluster pruning via equi-join
    audit("q24") {
      val p24 = plan("q24_sim_ivf")
      check("q24 IVF probe is an equi-join (pruned scan)",
        p24.contains("BroadcastHashJoin") && !p24.contains("CartesianProduct"))
    }
    // the top-k kernel (OrderStats.topKPer): its rank filter sits on the
    // window, so Spark plans a WindowGroupLimit that keeps <= k rows per
    // group in each task before the window's exchange and sort. Checked
    // per Window node: q67/q148 also rank their query terms with a
    // limited window of their own, which a plan-wide `contains` would
    // count for the kernel's
    audit("top-k") {
      import org.apache.spark.sql.execution.window.{WindowExec,
        WindowGroupLimitExec}
      val missing = Seq("q6_window_topn", "q23_sim_topk", "q24_sim_ivf",
          "q25_sim_lsh", "q67_bm25_topk", "q148_hybrid_rrf",
          "q171_ivf_multiprobe")
        .filterNot { q =>
          val windows = SparkEntry.queries(q)(spark, sfDir)
            .queryExecution.executedPlan.collect { case w: WindowExec => w }
          windows.nonEmpty &&
            windows.forall(_.child.isInstanceOf[WindowGroupLimitExec])
        }
      check("top-k queries plan every Window over a WindowGroupLimit",
        missing.isEmpty, s"missing in ${missing.mkString(", ")}")
    }

    // q19 dedup: aggregation on fingerprint, partial first
    audit("q19") {
      check("q19 partial agg on fingerprint", plan("q19_dedup_exact").contains("partial_"))
    }

    // q38: salted join must still be a shuffled hash/sort-merge equi-join
    audit("q38") {
      val p38 = plan("q38_salted_join")
      check("q38 salted join is an equi-join", !p38.contains("CartesianProduct") &&
        (p38.contains("SortMergeJoin") || p38.contains("ShuffledHashJoin") ||
         p38.contains("BroadcastHashJoin")))
    }

    // q34: exact percentiles must be the rank-based two-pass plan — no
    // `percentile` aggregate (its per-group all-values buffer OOMs at
    // scale), counts broadcast back, window + hash aggregation instead
    audit("q34") {
      val p34 = plan("q34_percentiles")
      check("q34 avoids the percentile buffer aggregate",
        !p34.toLowerCase.contains("percentile"))
      check("q34 rank window + broadcast counts",
        p34.contains("row_number") && p34.contains("BroadcastHashJoin"))
    }

    // q21/q50: the LSH and label-propagation join pipelines must stay
    // equi-joins — any cartesian product means a banding/labels bug
    audit("q21") {
      check("q21 minhash has no cartesian product",
        !plan("q21_minhash_lsh").contains("CartesianProduct"))
    }
    audit("q50") {
      check("q50 dup-groups has no cartesian product",
        !plan("q50_dup_groups").contains("CartesianProduct"))
    }
    // q55 embedding near-dup: candidates must come from the banded bucket
    // equi-join — an all-pairs (cartesian/nested-loop) plan would be the
    // 100 TB scale bug this operator exists to avoid
    audit("q55") {
      val p55 = plan("q55_embed_dup")
      check("q55 embed near-dup is a bucket equi-join",
        !p55.contains("CartesianProduct") && !p55.contains("BroadcastNestedLoopJoin") &&
          (p55.contains("SortMergeJoin") || p55.contains("ShuffledHashJoin") ||
           p55.contains("BroadcastHashJoin")))
    }

    // q52 chunking: pure projection + explode — NO exchange at all
    audit("q52") {
      val p52 = plan("q52_chunks")
      check("q52 chunking has no shuffle",
        !p52.contains("Exchange") ||
          // the orderBy for the gate adds a range exchange; everything
          // below it must be exchange-free
          "Exchange".r.findAllIn(p52).size <= 1)
      check("q52 chunking stays in codegen", p52.contains("*("))
    }

    // q26 text roundtrip: lines are numbered inside each file's row
    // (posexplode), so the scan needs no window and no hash exchange —
    // only the gate orderBy's range exchange remains. q26 selects no
    // `_lineno`, which lets the optimizer prune a numbering window, so a
    // skipUntil read that keeps every column is planned alongside
    audit("q26") {
      val p26 = plan("q26_text_roundtrip")
      val file = java.nio.file.Files.createTempFile("graft-audit-text-", ".txt")
      java.nio.file.Files.write(file, "junk\n--data--\n1;a\n".getBytes("UTF-8"))
      val numbered = graft.sources.TextSource.read(spark, Seq(file.toString),
          graft.sources.TextFormat(header = Seq("k", "v"), sep = ";",
            skipUntil = Some("^--data--$")))
        .queryExecution.executedPlan.toString
      check("q26 text scan numbers lines without a window or hash exchange",
        Seq(p26, numbered).forall(p =>
          !p.contains("Window") && !p.contains("Exchange hashpartitioning")) &&
          p26.contains("Exchange rangepartitioning"),
        s"q26:\n$p26\nnumbered read:\n$numbered")
    }

    // q51 sampling: bernoulli is a filter (no agg); quota's only
    // exchange is the stratum window + gate sort
    audit("q51") {
      check("q51 sample has no join", !plan("q51_sample").contains("Join"))
    }

    // q57/q60: pure per-row programs — only the gate orderBy may exchange
    audit("q57") {
      val p57 = plan("q57_quality_gate")
      check("q57 quality gate has no shuffle beyond the gate sort",
        "Exchange".r.findAllIn(p57).size <= 1)
      check("q57 quality gate stays in codegen", p57.contains("*("))
    }
    audit("q60") {
      check("q60 winnowing has no shuffle beyond the gate sort",
        "Exchange".r.findAllIn(plan("q60_winnow")).size <= 1)
    }
    // q56 repetition: both gram branches aggregate partially before exchange
    audit("q56") {
      check("q56 repetition has partial aggregation",
        plan("q56_repetition").contains("partial_"))
    }
    // q63 curation composition: the filter gates must fuse as semi joins /
    // aggregations — no cartesian anywhere in the composed plan
    audit("q63") {
      val p63 = plan("q63_curation")
      check("q63 curation pipeline has no cartesian product",
        !p63.contains("CartesianProduct") && !p63.contains("BroadcastNestedLoopJoin"))
      check("q63 curation pipeline keeps semi-join gates",
        p63.contains("LeftSemi"))
    }
    // q64 trigram language ID: per-row scan, only the gate sort exchanges
    audit("q64") {
      check("q64 lang-ngram has no shuffle beyond the gate sort",
        "Exchange".r.findAllIn(plan("q64_lang_ngram")).size <= 1)
    }

    // q65 line dedup: frequent-line filter must stay an anti-join (no
    // cartesian), with partial aggregation on the line-frequency count
    audit("q65") {
      val p65 = plan("q65_line_dedup")
      check("q65 line dedup keeps the anti-join",
        p65.contains("LeftAnti") && !p65.contains("CartesianProduct"))
      check("q65 line dedup has partial aggregation", p65.contains("partial_"))
    }

    // q66 bloom decontam: the bitmap is materialized once and embedded as
    // a literal (scalar-subquery shape) — the corpus probe must be a pure
    // scan with NO join against the benchmark relation at all
    audit("q66") {
      val p66 = plan("q66_bloom_decontam")
      check("q66 corpus probe has no join", !p66.contains("Join"))
      check("q66 per-doc counts aggregate partially", p66.contains("partial_"))
    }

    // q67 BM25: query terms broadcast onto the tf index; the only
    // nested-loop join is the single-row corpus-stats broadcast
    audit("q67") {
      val p67 = plan("q67_bm25_topk")
      check("q67 broadcasts query terms onto the tf index",
        p67.contains("BroadcastHashJoin") && !p67.contains("CartesianProduct"))
      check("q67 tf/df/dl aggregate partially", p67.contains("partial_count"))
    }

    // q68 packing: shard window = one hash exchange + per-shard sort, no
    // global sort below the gate orderBy, no join
    audit("q68") {
      val p68 = plan("q68_seq_pack")
      check("q68 packing shards the window (no join, no cartesian)",
        !p68.contains("Join") && p68.contains("Window"))
    }
    // q69 epoch mix: narrow plan — explode + filter, no exchange except
    // the gate sort
    audit("q69") {
      check("q69 epoch mix has no shuffle beyond the gate sort",
        "Exchange".r.findAllIn(plan("q69_epoch_mix")).size <= 1)
    }
    // q70 token budget: one stratum exchange + the gate sort, no join
    audit("q70") {
      val p70 = plan("q70_token_budget")
      check("q70 token budget is a windowed filter (no join)",
        !p70.contains("Join") && p70.contains("Window"))
    }
    // q71 snapshot diff: ONE equi-join on the key, full outer, never
    // cartesian/nested-loop
    audit("q71") {
      val p71 = plan("q71_snapshot_diff")
      check("q71 snapshot diff is a single full-outer equi-join",
        (p71.contains("SortMergeJoin") || p71.contains("ShuffledHashJoin")) &&
          p71.contains("FullOuter") &&
          !p71.contains("CartesianProduct") && !p71.contains("BroadcastNestedLoopJoin"))
    }
    // q72 scd2: both window passes share one key exchange — exactly one
    // hash exchange below the gate sort
    audit("q72") {
      val p72 = plan("q72_scd2")
      check("q72 scd2 reuses one key exchange for both windows",
        "Exchange hashpartitioning".r.findAllIn(p72).size == 1,
        s"expected 1 hash exchange, plan:\n${p72.take(400)}")
    }
    // q73 profile: one aggregation job; the multi-distinct plans via
    // Expand with partial aggregation
    audit("q73") {
      val p73 = plan("q73_profile")
      check("q73 profile is one aggregation pass (Expand + partial agg)",
        p73.contains("Expand") && p73.contains("partial_"))
    }

    // q75 range join: the binning rewrite must plan an EQUI-join on the
    // bin key — never the nested-loop fallback a bare range predicate gets
    audit("q75") {
      val p75 = plan("q75_range_join")
      check("q75 range join is an equi-join (no nested loop)",
        !p75.contains("CartesianProduct") && !p75.contains("BroadcastNestedLoopJoin") &&
          (p75.contains("BroadcastHashJoin") || p75.contains("SortMergeJoin") ||
            p75.contains("ShuffledHashJoin")))
    }
    // q74/q76/q77 bounded top-k aggregates: partial (map-side) aggregation
    // must be present — the bounded buffer only helps skew if it runs
    // before the shuffle
    Seq("q74_postings", "q76_kmv_distinct", "q77_strat_sample").foreach { q =>
      audit(q) {
        check(s"$q aggregates partially before the shuffle",
          plan(q).contains("partial_"))
      }
    }
    // q159 overlap join: the binned plan must be an equi-join — the
    // whole point is avoiding the nested-loop fallback a bare theta
    // condition plans
    audit("q159") {
      val p = plan("q159_overlap_join")
      check("q159 overlap join is a binned equi-join, no nested loop",
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    }
    // q166 keyed overlap: same equi-join requirement as q159
    audit("q166") {
      val p = plan("q166_keyed_overlap")
      check("q166 keyed overlap is a binned equi-join, no nested loop",
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    }
    // q158 HLL: both aggregation levels (register max, harmonic fold)
    // must partial-aggregate; the rank ladder is a projection
    audit("q158") {
      check("q158 HLL registers partial-aggregate",
        plan("q158_hll_distinct").contains("partial_max"))
    }
    // q78 histogram sketch: the only full-data work is the (group, bin)
    // count — partial aggregation before one exchange, no join
    audit("q78") {
      val p78 = plan("q78_hist_quantile")
      check("q78 hist sketch aggregates partially, no join",
        p78.contains("partial_") && !p78.contains("Join"))
    }
    // q79 z-values: a pure projection — 32-term bit arithmetic must stay
    // inside whole-stage codegen with no shuffle beyond the gate sort
    audit("q79") {
      val p79 = plan("q79_zorder")
      check("q79 z-value projection stays in codegen, no join",
        p79.contains("*(") && !p79.contains("Join") &&
          "Exchange".r.findAllIn(p79).size <= 1)
    }
    // q80 fuzzy join: prefix blocking must plan an equi-join — the whole
    // point is avoiding the all-pairs nested loop
    audit("q80") {
      val p80 = plan("q80_fuzzy_join")
      check("q80 fuzzy join blocks via equi-join",
        !p80.contains("CartesianProduct") && !p80.contains("BroadcastNestedLoopJoin"))
    }

    // q81 CMS: the depth×width sketch must partially aggregate map-side
    // (bounded shuffle regardless of key skew) and join the probes by
    // BROADCAST — shipping the tiny counter table, never shuffling probes
    audit("q81") {
      val p81 = plan("q81_cms_heavy")
      check("q81 cms sketch aggregates partially and broadcasts",
        p81.contains("partial_") && p81.contains("BroadcastHashJoin") &&
          !p81.contains("CartesianProduct"))
    }
    // q82 incremental novelty: all three probes (fingerprint, line-hash)
    // must be equi-joins — no nested loop anywhere
    audit("q82") {
      val p82 = plan("q82_incr_novelty")
      check("q82 novelty probes are equi-joins",
        !p82.contains("CartesianProduct") && !p82.contains("BroadcastNestedLoopJoin"))
    }
    // q83 LM fluency: the bigram model is bounded by alphabet² — it must
    // broadcast to the scoring scan, and the count must combine map-side
    audit("q83") {
      val p83 = plan("q83_lm_fluency")
      check("q83 lm model broadcasts, counts aggregate partially",
        p83.contains("partial_") && p83.contains("BroadcastHashJoin") &&
          !p83.contains("CartesianProduct"))
    }
    // q84 shard manifest: one partial-aggregated groupBy, no join
    audit("q84") {
      val p84 = plan("q84_shard_manifest")
      check("q84 manifest aggregates partially, no join",
        p84.contains("partial_") && !p84.contains("Join"))
    }
    // q85 semantic dedup: the within-cluster pair scan must be an
    // equi-join on the cluster id — never an all-pairs nested loop; the
    // codebook is a literal, so assignment adds no join at all
    audit("q85") {
      val p85 = plan("q85_semdedup")
      check("q85 semdedup pairs via cluster equi-join",
        !p85.contains("CartesianProduct") && !p85.contains("BroadcastNestedLoopJoin"))
    }
    // the q85 codebook trainer must be a bounded-buffer partial aggregate:
    // fixed-point sums, never a per-group collect_list (a hot cluster
    // would materialize every member value in one reducer buffer)
    audit("labelCentroids") {
      val pCent = {
        import org.apache.spark.sql.functions.col
        graft.operators.Similarity.labelCentroidRows(
          Tables.embeddings(spark, sfDir).select(col("label"), col("embedding")),
          "label", "embedding", scaleBits = 20)
          .queryExecution.executedPlan.toString
      }
      check("labelCentroids is a partial integer sum, no collect_list",
        pCent.contains("partial_sum") && !pCent.contains("collect_list"),
        "centroid aggregation buffers member values")
    }
    // q86/q87: every funnel step and the retention cohort probe must be
    // a user-keyed equi-join with partial aggregation — no window over
    // full event history, no nested loop
    Seq("q86_funnel", "q87_retention").foreach { q =>
      audit(q) {
        val p = plan(q)
        check(s"$q is equi-join + partial agg",
          p.contains("partial_") && !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin") && !p.contains("Window"))
      }
    }
    // q88 signature store: each row's signature is formed in its row
    // over the distinct shingle set, so the one signature aggregate (the
    // MIN merge of rows sharing an id) partially aggregates map-side and
    // has no Generate below it — no exchange carries one row per shingle
    // occurrence. Checked per aggregate node: the posexplode into
    // (doc, k) rows legitimately sits above the final aggregate
    audit("q88") {
      import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
      import org.apache.spark.sql.execution.GenerateExec
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      val p88 = SparkEntry.queries("q88_minhash_sigs")(spark, sfDir)
        .queryExecution.executedPlan
      val sigAggs = p88.collect { case a: BaseAggregateExec
          if a.aggregateExpressions.exists(
            _.aggregateFunction.isInstanceOf[graft.plans.ArrayMinAgg]) => a }
      check("q88 signature aggregate is partial, no join, no Generate below it",
        sigAggs.exists(_.aggregateExpressions.exists(_.mode == Partial)) &&
          sigAggs.forall(_.find(_.isInstanceOf[GenerateExec]).isEmpty) &&
          !p88.toString.contains("Join"),
        s"plan: ${p88.collect { case n => n.nodeName }.mkString(" <- ")}")
    }
    // q89 boolean retrieval: the term filter must run BEFORE the one
    // shuffle (codegen'd filter over the explode, partial agg after)
    audit("q89") {
      val p89 = plan("q89_bool_retrieval")
      check("q89 filters terms pre-shuffle, aggregates partially",
        p89.contains("partial_") && !p89.contains("Join"))
    }
    // q90 outliers: the per-group stats must broadcast back to the scan
    audit("q90") {
      val p90 = plan("q90_outliers")
      check("q90 stats broadcast to the outlier pass",
        p90.contains("BroadcastHashJoin") && p90.contains("partial_"))
    }
    // q11: the calendar profile must be computed per DISTINCT date and
    // broadcast back — the UDF boundary must not sit on the fact scan
    audit("q11") {
      val p11 = plan("q11_date_functions")
      check("q11 joins a broadcast distinct-date profile",
        p11.contains("BroadcastHashJoin"))
    }
    // q91-q93: scalar aggregates broadcast back, dims broadcast, no
    // window over the fact and no nested loop beyond the 1-row scalar
    Seq("q91_top_supplier", "q92_small_qty", "q93_nation_share").foreach { q =>
      audit(q) {
        val p = plan(q)
        check(s"$q broadcasts and partially aggregates",
          p.contains("Broadcast") && p.contains("partial_") &&
            !p.contains("Window") && !p.contains("CartesianProduct"))
      }
    }
    // q95 co-occurrence: the pair join is doc-keyed (equi), the df/N
    // relations broadcast — no cartesian anywhere
    audit("q95") {
      val p95 = plan("q95_cooccur_lift")
      check("q95 pairs via doc equi-join, stats broadcast",
        p95.contains("BroadcastHashJoin") && !p95.contains("CartesianProduct"))
    }
    // q96 session paths: exactly ONE user-keyed exchange feeds both the
    // sessionizing window and the per-session fold
    audit("q96") {
      val p96 = plan("q96_session_paths")
      check("q96 sessionize + fold share one user exchange",
        "hashpartitioning\\(user_id".r.findAllIn(p96).size <= 1 &&
          !p96.contains("CartesianProduct"))
    }
    // q106: reproducible global order must plan as TakeOrdered
    // (per-partition top-k), never a full global sort
    audit("q106") {
      val p106 = plan("q106_train_order")
      check("q106 train order is a TakeOrdered, not a global sort",
        p106.contains("TakeOrdered"))
    }

    // q115: the per-column fill window and the final row_number window
    // must share ONE hash exchange on the key (the scaladoc's claim) —
    // a second exchange would double the shuffle for every incremental
    // upsert at scale
    audit("q115") {
      val p115 = plan("q115_incr_upsert")
      check("q115 incremental upsert shuffles once",
        "Exchange hashpartitioning".r.findAllIn(p115).size == 1,
        s"got ${"Exchange hashpartitioning".r.findAllIn(p115).size} hash exchanges")
    }
    // q116: absent-key insertion must be an anti join, never a nested loop
    audit("q116") {
      val p116 = plan("q116_insert_ignore")
      check("q116 insert-ignore-dups anti-joins the target",
        p116.contains("LeftAnti") && !p116.contains("CartesianProduct") &&
          !p116.contains("BroadcastNestedLoopJoin"))
    }

    // q119 quantization: a pure per-row array program — no join, no
    // aggregation exchange beyond the gate sort
    audit("q119") {
      val p119 = plan("q119_embed_quant")
      check("q119 quantization is a projection (no join, <=1 exchange)",
        !p119.contains("Join") && "Exchange".r.findAllIn(p119).size <= 1)
    }
    // q120/q121 encoding + script stats: per-row regex programs in
    // whole-stage codegen, only the gate sort may exchange
    Seq("q120_encoding_quality", "q121_script_mix").foreach { q =>
      audit(q) {
        val p = plan(q)
        check(s"$q is a codegen per-row program (no join, <=1 exchange)",
          p.contains("*(") && !p.contains("Join") &&
            "Exchange".r.findAllIn(p).size <= 1)
      }
    }

    // q122 span dedup: the native fingerprint generator replaces any
    // join-back — the dup verdict rides the fingerprint exchange as a
    // window, then one per-doc rollup (+ the gate sort)
    audit("q122") {
      val p = plan("q122_span_dedup")
      check("q122 has no join and bounded exchanges (window + rollup + sort)",
        !p.contains("Join") && "Exchange".r.findAllIn(p).size <= 3,
        "span dedup should not join the window relation back")
      check("q122 extracts fingerprints natively",
        p.contains("anchorwindowhashes") || p.contains("AnchorWindowHashes"))
    }

    // q124 EWMA: rank-prune then aggregate, both on the user key — the
    // window's exchange must be REUSED by the aggregation, not repeated
    audit("q124") {
      val p = plan("q124_ewma")
      check("q124 ranks and aggregates on one user-key exchange (+sort)",
        !p.contains("Join") && "Exchange".r.findAllIn(p).size <= 2)
    }

    // q123 collocations: the unigram model and token total must BROADCAST
    // onto the surviving pairs — a shuffled join would re-exchange the
    // pair relation once per model side
    audit("q123") {
      val p = plan("q123_collocations")
      check("q123 broadcasts the unigram model onto the pairs",
        "BroadcastHashJoin".r.findAllIn(p).size >= 2 &&
          !p.contains("SortMergeJoin"))
    }

    // q126 MAD: per-group stats broadcast back onto the rows (three
    // broadcast joins: med→dev, mad→stats, mad→outlier pass)
    audit("q126") {
      val p = plan("q126_mad_outliers")
      check("q126 broadcasts group stats back (no shuffled row join)",
        !p.contains("SortMergeJoin") && p.contains("BroadcastHashJoin"))
    }

    // q130 BPE apply: the per-word token-count relation must broadcast
    // onto the corpus words
    audit("q130") {
      val p = plan("q130_bpe_apply")
      check("q130 broadcasts the per-word token counts",
        p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
    }

    // q129 span runs: same no-join-back discipline as q122 (window over
    // the fingerprint + two per-doc groupings + distinct-docs left join)
    audit("q129") {
      val p = plan("q129_span_runs")
      check("q129 extracts fingerprints natively",
        p.contains("anchorwindowhashes") || p.contains("AnchorWindowHashes"))
      check("q129 has no shuffled join of the window relation",
        !p.contains("SortMergeJoin"))
    }

    // DSv2 custom sources: column pruning must reach the parser — a
    // 1-column projection over a graft-fixed table scans ONLY that column
    // (the scan description carries its pruned readSchema)
    audit("dsv2-pruning") {
      val dir = java.nio.file.Files.createTempDirectory("graft-dsv2-audit-")
      val f = dir.resolve("d.fix")
      java.nio.file.Files.write(f, "k  name    \n1  row1   \n".getBytes("UTF-8"))
      val scan = spark.read.format("graft-fixed")
        .option("header", "k,name").option("poslen", "0-3,3-11")
        .option("skip", "1").load(f.toString)
        .select(org.apache.spark.sql.functions.col("name"))
      val ps = scan.queryExecution.executedPlan.toString
      check("dsv2 fixed-width scan prunes to the selected column",
        ps.contains("ReadSchema: name") && !ps.contains("_lineno"),
        s"pruning did not reach the graft-fixed scan:\n${ps.take(400)}")
    }

    // q131 canonical pick: the per-group argmax must be a partial-first
    // hash aggregate (struct-max state), never a window over the corpus
    audit("q131") {
      val p = plan("q131_keep_best")
      check("q131 pick is a partial hash aggregate, not a corpus window",
        p.contains("partial_") && !p.contains("CartesianProduct"))
    }

    // q133 kNN graph: the all-pairs comparison must be BLOCKED by the
    // cluster equi-join (Σ cluster², not N²) and the mutuality check a
    // self-join of the top-k relation — no cartesian anywhere
    audit("q133") {
      val p = plan("q133_knn_graph")
      check("q133 pair scoring is cluster-blocked (no cartesian)",
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
      // non-vacuity guard: the audit must see the REAL pair-scoring
      // subtree, not a checkpoint stub — if a future change re-enables
      // plan cuts in this session, the check above goes blind and this
      // one fails loudly (the join + window must be visible)
      check("q133 audit sees the full pair-scoring subtree (no checkpoint stub)",
        !p.contains("ExistingRDD") && p.contains("Join") && p.contains("Window"),
        "plan is truncated by a plan cut; audit would be vacuous")
    }

    // q134 budget allocation: the tiny per-stratum allocation relation
    // must BROADCAST back onto the document scan
    audit("q134") {
      val p = plan("q134_budget_alloc")
      check("q134 allocation broadcasts onto the doc scan",
        p.contains("BroadcastHashJoin"))
    }

    // q135 quantized recall: both rankings broadcast the 10-query side
    // (the same intentional cross join as q23), never the corpus
    audit("q135") {
      val p = plan("q135_quant_recall")
      check("q135 broadcasts the query side of both rankings",
        p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    }

    // q136 tempered allocation: same broadcast-allocation discipline as
    // q134 (the isqrt reweighting is stratum-relation arithmetic only)
    audit("q136") {
      check("q136 allocation broadcasts onto the doc scan",
        plan("q136_tempered_alloc").contains("BroadcastHashJoin"))
    }

    // q137 distribution matching: the reference histogram (quota
    // relation) must broadcast onto the ranked candidate scan
    audit("q137") {
      val p = plan("q137_length_match")
      check("q137 quotas broadcast onto the ranked candidates",
        p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))
    }

    // q138 span contamination: candidates come from the shingle
    // EQUI-join (q53's discipline) and the union window partitions by
    // doc — an all-pairs or corpus-wide-window plan would be the scale bug
    audit("q138") {
      val p = plan("q138_contam_spans")
      check("q138 contamination check is a shingle equi-join (no cartesian)",
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    }

    // q139 leakage-safe split: label propagation + one equi-join back;
    // nothing quadratic anywhere
    audit("q139") {
      check("q139 group split has no cartesian product",
        !plan("q139_group_split").contains("CartesianProduct"))
    }

    // q140 perceptual image dedup: candidates from the Hamming chunk
    // equi-join (pigeonhole banding), never an all-pairs product
    audit("q140") {
      check("q140 image near-dup is a banded equi-join (no cartesian)",
        !plan("q140_image_phash").contains("CartesianProduct"))
    }

    // q142 audio near-dup: same banded-equi-join discipline as q140
    audit("q142") {
      check("q142 audio near-dup is a banded equi-join (no cartesian)",
        !plan("q142_audio_fingerprint").contains("CartesianProduct"))
    }

    // q143 composite pipeline: the canonical-pick argmax is a partial
    // agg, the allocation broadcasts onto the kept fill, no cartesian
    audit("q143") {
      val p = plan("q143_select_pipeline")
      check("q143 pipeline: partial-agg pick + broadcast alloc, no cartesian",
        p.contains("partial_") && p.contains("BroadcastHashJoin") &&
          !p.contains("CartesianProduct"))
    }

    // q144 phrase search: windowed lead, never a positional self-join
    // of postings (the join in the plan is only the 1-row top-trigram
    // filter side)
    audit("q144") {
      val p = plan("q144_phrase_search")
      check("q144 phrase match is windowed, no cartesian",
        !p.contains("CartesianProduct"))
    }

    // q145 hashed classifier: one token stream, weight computed inline —
    // no weight-table join, no exchange before the partial agg
    audit("q145") {
      val p = plan("q145_quality_classifier")
      check("q145 classifier is a single-pass partial agg, no join",
        p.contains("partial_") && !p.contains("Join"),
        "expected a joinless partial-aggregated token stream")
    }

    // q146 PageRank: Pregel shape — per-iteration equi-joins, partial-
    // aggregated contribution shuffles; the only nested-loop is the
    // single-row count broadcast the edge synthesis needs
    audit("q146") {
      val p = plan("q146_pagerank")
      check("q146 pagerank contributions partial-aggregate",
        p.contains("partial_sum"))
      check("q146 pagerank has no cartesian product",
        !p.contains("CartesianProduct"))
    }

    // q147 importance weights: the ≤1024-row bucket-weight relation must
    // broadcast back onto the token stream
    audit("q147") {
      val p = plan("q147_importance_rank")
      check("q147 broadcasts the bucket-weight model",
        p.contains("BroadcastHashJoin"))
      check("q147 has no cartesian product", !p.contains("CartesianProduct"))
    }

    // q148 hybrid RRF: fusion joins only the bounded top-k relations;
    // the dense side's query block is a broadcast (5 vectors)
    audit("q148") {
      val p = plan("q148_hybrid_rrf")
      check("q148 fuses via partial agg over unioned top-k",
        p.contains("partial_sum") && p.contains("Union"))
    }

    // q149 TF-IDF: the single-row n_docs must broadcast, tf/df/dl agg
    // partial
    audit("q149") {
      val p = plan("q149_tfidf_keywords")
      check("q149 partial-aggregates tf/df/dl", p.contains("partial_count"))
    }

    // q150 compaction plan: one window + one partial agg, no join at all
    audit("q150") {
      val p = plan("q150_compaction_plan")
      check("q150 planner is window + agg, joinless",
        p.contains("Window") && !p.contains("Join"))
    }

    // q151 weighted sample: the bounded min-k buffer must partial-
    // aggregate (map-side) and the plan must carry no window sort
    audit("q151") {
      val p = plan("q151_weighted_sample")
      check("q151 weighted sample is a bounded partial agg, windowless",
        p.contains("partial_") && !p.contains("Window"))
    }

    // q152 anchor profile: linker attributes join the edge relation as
    // equi-joins; no cartesian anywhere
    audit("q152") {
      check("q152 anchor profile has no cartesian product",
        !plan("q152_anchor_profile").contains("CartesianProduct"))
    }

    // q153 two-hop: the expansion is a self-equi-join on the middle
    // node (SortMerge/ShuffledHash), never a nested loop
    audit("q153") {
      val p = plan("q153_two_hop_reach")
      check("q153 two-hop expansion is an equi-join",
        (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
          p.contains("BroadcastHashJoin")) && !p.contains("CartesianProduct"))
    }

    // q154 stopword density: the discovered stop relation (small by
    // construction) must broadcast back onto the token stream
    audit("q154") {
      val p = plan("q154_stopword_density")
      check("q154 broadcasts the stopword relation",
        p.contains("BroadcastHashJoin"))
    }

    // q155 PQ: the m·ksub codebook joins broadcast everywhere; training
    // means partial-aggregate (exact integer sums)
    audit("q155") {
      val p = plan("q155_pq_ann")
      check("q155 PQ broadcasts the codebook and partial-aggregates",
        p.contains("BroadcastHashJoin") && p.contains("partial_sum") &&
          !p.contains("CartesianProduct"))
    }

    // q156 shard bloom: the per-(shard, word) bit_or must partial-
    // aggregate so the shuffle is bounded by the filter size
    audit("q156") {
      check("q156 bloom build partial-aggregates the bit words",
        plan("q156_shard_bloom").contains("partial_"))
    }

    // q157 signal fusion: four signal pipelines joined on doc_id, the
    // tiny allocation broadcast onto the kept fill, no cartesian
    audit("q157") {
      val p = plan("q157_signal_fusion")
      check("q157 fusion: partial aggs + broadcast alloc, no cartesian",
        p.contains("partial_") && p.contains("BroadcastHashJoin") &&
          !p.contains("CartesianProduct"))
    }

    // q160 incremental maintenance: both the state build and the merge
    // are partial-aggregated; no join anywhere (pure agg/union shape)
    audit("q160") {
      val p = plan("q160_incremental_agg")
      check("q160 MV maintenance is partial-aggregated and joinless",
        p.contains("partial_") && !p.contains("Join"))
    }

    // q161 bipartite projection: the pairing is a self-equi-join on the
    // user (capped upstream), never a cartesian
    audit("q161") {
      val p = plan("q161_item_cooccur")
      check("q161 projection pairs via user equi-join, no cartesian",
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    }

    // q162 runs a streaming query inside plan() — only assert it plans
    // and the final register fold partial-aggregates
    audit("q162") {
      check("q162 streaming HLL final fold partial-aggregates",
        plan("q162_stream_hll").contains("partial_max"))
    }

    // q163 cascade: three dedup stages over one corpus — the pair joins
    // are all banded/blocked equi-joins, no cartesian anywhere, and
    // PLANNING the cascade launches no Spark job (round 14 found a
    // corpus-scale count() run at plan time to pick the near-dup
    // stage's pair generator; no stage may decide its plan by counting
    // the corpus)
    audit("q163") {
      // the listener bus is drained, not slept on: every job plan()
      // started is counted
      val (p, descs) = org.apache.spark.graft.Bus.jobsOf(spark.sparkContext)(
        plan("q163_dedup_cascade"))
      check("q163 cascade stays equi-join across all three stages",
        !p.contains("CartesianProduct"))
      // parquet schema-inference jobs ("parquet at ...") read one
      // footer — constant metadata cost, fine at any scale. What must
      // NOT appear is a corpus-scale ACTION at plan time (the routing
      // count() this check was added for).
      check("q163 planning launches no corpus-scale job (routing count removed)",
        descs.forall(_.startsWith("parquet at")),
        s"${descs.size} jobs during plan construction:" +
          s" ${descs.mkString("; ")}")
    }

    // q164 HITS: same Pregel discipline as q146 — partial-aggregated
    // sums, no cartesian (the max broadcast is a 1-row BNLJ, fine)
    audit("q164") {
      val p = plan("q164_hits")
      check("q164 HITS partial-aggregates, no cartesian",
        p.contains("partial_sum") && !p.contains("CartesianProduct"))
    }

    // q165 calibration: the histogram broadcasts back onto the data; the
    // only window runs over the bounded histogram, not the corpus
    audit("q165") {
      val p = plan("q165_score_calibration")
      check("q165 calibration broadcasts the histogram model",
        p.contains("BroadcastHashJoin") && p.contains("partial_count"))
    }

    // q167 NFC: one projection pass, no join/exchange beyond the sort
    audit("q167") {
      check("q167 NFC normalization is a joinless projection",
        !plan("q167_unicode_nfc").contains("Join"))
    }

    // q168/q172/q173 semantic dedup: centroid assignment is a pure
    // projection (broadcast-literal codebook), the pair scan is a
    // cluster equi-join — never a cartesian; the dedup agg partials
    audit("q168") {
      val p = plan("q168_semdedup_auto")
      check("q168 semDedupAuto: cluster equi-join, no cartesian",
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    }
    audit("q172") {
      check("q172 sampled dedup: cluster equi-join, no cartesian",
        !plan("q172_semdedup_sampled").contains("CartesianProduct"))
    }
    audit("q173") {
      check("q173 two-level dedup: cluster equi-join, no cartesian",
        !plan("q173_two_level_dedup").contains("CartesianProduct"))
    }
    // q169 learned-codebook kNN graph: blocked by the cluster equi-join,
    // mutuality via the reversed-pair self-join — no cartesian
    audit("q169") {
      check("q169 knnGraphAuto pairs via cluster equi-join, no cartesian",
        !plan("q169_knn_graph_auto").contains("CartesianProduct"))
    }
    // q171 multi-probe IVF: the bounded query side (10 probes exploded)
    // must BROADCAST onto the corpus scan
    audit("q171") {
      val p = plan("q171_ivf_multiprobe")
      check("q171 IVF probe join broadcasts the query side",
        p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))
    }
    // q178 codebook drift: BOTH assignments are literal-codebook
    // projections fused in one scan — no join anywhere before the
    // two tiny audit aggregations
    audit("q178") {
      val p = plan("q178_codebook_drift")
      check("q178 drift audit: pure projection + aggregations, no join",
        !p.contains("Join") && !p.contains("CartesianProduct"))
    }
    // q179 two-level IVF: like q171, the bounded probe side broadcasts
    // onto the corpus; no per-row flat centroid scan survives as a
    // cartesian
    audit("q179") {
      val p = plan("q179_two_level_probe")
      check("q179 two-level probe join broadcasts the query side",
        p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))
    }
    // q183 partial refit: the final re-assignment is a literal-codebook
    // projection + one aggregation — no join, no cartesian
    audit("q183") {
      val p = plan("q183_partial_refit")
      check("q183 partial refit: projection + aggregation, no cartesian",
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    }

    // q228 unified PQ serving: the ADC scan must be a broadcast of the
    // query-side distance tables against the probe-pruned code scan —
    // no cartesian, and the codes scan keeps partition pruning on
    // c_bucket (the probed clusters' buckets)
    audit("q228") {
      val p = plan("q228_pq_unified_store")
      check("q228 pinned-triple ADC: broadcast join, no cartesian",
        p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))
      check("q228 code scan prunes c_bucket partitions",
        p.contains("PartitionFilters: [") && p.contains("c_bucket"))
    }
    // q229 historical semantic replay: the pinned members join the
    // delta on the cluster key (equi-join), never a cartesian; the
    // verdict aggregation partial-aggregates
    audit("q229") {
      val p = plan("q229_semantic_replay")
      check("q229 pinned replay: cluster equi-join, no cartesian",
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    }

    // DSv2 pushdown: a `_file` predicate must reach the graft-text scan
    // (PushedFilters) and prune the planned partitions to the one file
    audit("v2-pushdown") {
      import org.apache.spark.sql.functions.col
      val tmp = java.nio.file.Files.createTempDirectory("graft-v2audit-")
      for (i <- 1 to 3)
        java.nio.file.Files.write(tmp.resolve(s"p$i.csv"),
          s"k,v\n$i,x$i\n".getBytes("UTF-8"))
      val scan = spark.read.format("graft-text")
        .option("header", "k,v").option("sep", ",").option("skip", "1")
        .load(tmp.toString + "/*.csv")
        .filter(col("_file").endsWith("p2.csv"))
      val plan = scan.queryExecution.executedPlan
      check("graft-text scan shows the pushed _file filter",
        plan.toString.contains("PushedFilters: [StringEndsWith(_file,p2.csv)]"),
        "no PushedFilters on the v2 scan")
      val parts = plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.partitions.size
      }
      check("pushed _file filter prunes the file listing to 1 partition",
        parts.headOption.contains(1), s"partitions: $parts")
    }

    // partitioned layout: a partition predicate must prune directories
    audit("partitioned-scan") {
      val tmp = java.nio.file.Files.createTempDirectory("graft-part-").toString + "/events_p"
      val ev = graft.Tables.events(spark, sfDir)
      ev.write.partitionBy("event_type").parquet(tmp)
      val scan = spark.read.parquet(tmp)
        .filter(org.apache.spark.sql.functions.col("event_type") === "click")
      val ps = scan.queryExecution.executedPlan.toString
      check("partitioned scan prunes by partition filter",
        ps.contains("PartitionFilters: [") && ps.contains("event_type"),
        "no PartitionFilters on event_type")
    }

    // IVF-PQ store search (q199/q201): the code scan must prune by the
    // probed buckets (partition dirs) AND push the cluster restriction
    // into row-group stats; the per-query side must broadcast — the
    // corpus side is the only shuffled relation at 100 TB
    audit("pq-store-search") {
      import graft.operators.Similarity
      import org.apache.spark.sql.functions.col
      val emb = graft.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        8, iters = 1)
      val tmp = java.nio.file.Files.createTempDirectory("graft-pqa-")
        .resolve("s").toString
      Similarity.writeStandingStore(
        emb.withColumn("cluster",
            Similarity.assignCluster(col("embedding"), cents).cast("long"))
          .withColumn("nrm", Similarity.norm(col("embedding"))),
        tmp, "cluster", buckets = 8)
      Similarity.writeCodebook(spark, tmp, cents)
      Similarity.writePqSidecar(spark, tmp, "vec_id", "embedding",
        m = 4, dsub = 16, ksub = 8)
      val search = Similarity.pqTopKStore(spark, tmp,
        emb.filter(col("vec_id") < 4), "vec_id", "embedding",
        m = 4, dsub = 16, k = 5, nProbe = 2)
      val ps = search.queryExecution.executedPlan.toString
      check("pq code scan prunes by c_bucket partition filter",
        ps.contains("PartitionFilters: [") && ps.contains("c_bucket"),
        s"no c_bucket PartitionFilters:\n${ps.take(1500)}")
      check("pq code scan pushes the cluster restriction",
        ps.contains("In(cluster") || ps.contains("EqualTo(cluster"),
        "cluster not pushed into the code scan")
      check("pq query side broadcasts (probe pairs + distance tables)",
        ps.contains("BroadcastHashJoin") || ps.contains("BroadcastNestedLoop"),
        "no broadcast join in the pq search")
      check("pq search has no cartesian product",
        !ps.contains("CartesianProduct"), "cartesian in pq search")
      // the RESIDUAL flavor must keep the same physical shape: pruned
      // code scan, broadcast query side (now per-probe distance
      // tables), no cartesian from the per-probe residual join
      Similarity.writePqSidecar(spark, tmp, "vec_id", "embedding",
        m = 4, dsub = 16, ksub = 8, residual = true)
      val searchR = Similarity.pqTopKStore(spark, tmp,
        emb.filter(col("vec_id") < 4), "vec_id", "embedding",
        m = 4, dsub = 16, k = 5, nProbe = 2)
      val psR = searchR.queryExecution.executedPlan.toString
      check("residual pq code scan prunes by c_bucket partition filter",
        psR.contains("PartitionFilters: [") && psR.contains("c_bucket"),
        s"no c_bucket PartitionFilters (residual):\n${psR.take(1500)}")
      check("residual pq query side broadcasts",
        psR.contains("BroadcastHashJoin") ||
          psR.contains("BroadcastNestedLoop"),
        "no broadcast join in the residual pq search")
      check("residual pq search has no cartesian product",
        !psR.contains("CartesianProduct"), "cartesian in residual pq search")
    }

    failures
  }
}
