package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scale-path gates (q81-q84): the operators a continuously refreshed
  * 100 TB training corpus needs beyond one-shot curation — bounded-state
  * frequency sketching, incremental-ingest novelty scoring against the
  * already-loaded corpus, self-trained statistical fluency filtering,
  * and deterministic shard assignment with a loader manifest.
  */
object ScaleQueries {

  private val CmsDepth = 4
  private val CmsWidth = 256

  /** q81: count-min-sketch heavy hitters — the exact top-10 event users
    * (small, for the gate) carried next to their CMS estimate, proving
    * the bounded depth×width counter relation ([[Sketches.cmsSketch]])
    * reproduces hot-key frequencies without an unbounded groupBy. The
    * estimate is ≥ exact by construction; with 1.5k keys in 4×256
    * counters the two agree or differ only by collision mass — both
    * engines replay the identical integer hash arithmetic. */
  def q81CmsHeavy(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val sketch = Sketches.cmsSketch(ev, "user_id", CmsDepth, CmsWidth)
    val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("user_id")).limit(10)
    Sketches.cmsEstimate(top, sketch, "user_id", CmsDepth, CmsWidth)
      .select(col("user_id"), col("exact_cnt"), col("cms_est"))
      .orderBy(col("exact_cnt").desc, col("user_id"))
  }

  /** q82: incremental-ingest novelty — every 7th document plays the
    * freshly arrived batch, the rest the standing corpus
    * ([[Dedup.noveltyScore]]): exact-dup fingerprint probe + fraction of
    * distinct lines unseen in the corpus. */
  def q82IncrNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.noveltyScore(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** q83: self-trained character-bigram fluency scores over the whole
    * corpus ([[TextOps.bigramFluency]]) — the statistical-LM quality
    * filter next to the heuristic q57 gate. */
  def q83LmFluency(spark: SparkSession, dir: String): DataFrame =
    TextOps.bigramFluency(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** q84: deterministic 8-way shard assignment + loader manifest
    * ([[Layout.shardManifest]]). */
  def q84ShardManifest(spark: SparkSession, dir: String): DataFrame =
    Layout.shardManifest(Tables.documents(spark, dir),
      "doc_id", "text", "lang", "n_chars", nShards = 8)

  /** q85: SemDeDup-shaped semantic dedup ([[Similarity.semDedup]]) —
    * vectors assigned to the nearest label-mean centroid (the canonical
    * codebook of [[Similarity.labelCentroids]]; labels are contiguous
    * 0..9, so centroid index == label), near-dup twins injected at 1.5×
    * scale (cosine 1), pairs compared within clusters only, lower-id
    * survivor kept. The oracle re-derives the codebook, the nearest-
    * centroid assignment (same left-fold squared-distance arithmetic as
    * [[graft.plans.VecFold]]) and the pair pruning entirely in SQL —
    * the whole model-train + assign + dedup path is value-checked, not
    * rows-only. */
  def q85SemDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    // twins are scaled ABOVE the union: a transform lambda inside a union
    // child trips Union.rewriteConstraints ("key not found" on the
    // child-input attribute) when a sort is planned over the union
    val twins = emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"),
        col("label"))
    val corpus = emb.unionByName(twins)
      .select(col("vec_id"),
        when(col("vec_id") >= 100000,
          transform(col("embedding"), v => v * lit(1.5f)))
          .otherwise(col("embedding")).as("embedding"),
        col("label"))
    val cents = Similarity.labelCentroids(corpus, "label", "embedding")
    Similarity.semDedup(corpus, "vec_id", "embedding", cents, minCos = 0.99)
      .orderBy(col("vec_id"))
  }

  /** q86: ordered conversion funnel view → click → purchase, each step
    * within 24 h of the previous ([[Events.funnelCounts]]). */
  def q86Funnel(spark: SparkSession, dir: String): DataFrame =
    Events.funnelCounts(Tables.events(spark, dir), "user_id", "ts",
        Seq("view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")),
        maxGapMicros = 86400L * 1000000L)
      .orderBy(col("step"))

  /** q87: daily cohort retention, offsets 0..7 ([[Events.retention]]). */
  def q87Retention(spark: SparkSession, dir: String): DataFrame =
    Events.retention(Tables.events(spark, dir), "user_id", "ts", 7)
      .orderBy(col("cohort"), col("day_offset"))

  /** q88: portable minhash signature store ([[Dedup.minhashSignatures]])
    * — the oracle recomputes every signature value (shingles →
    * polynomial char hash → universal-hash minima) in SQL, value-checking
    * the permutation arithmetic the q21 pair gate only checks by
    * consequence. */
  def q88MinhashSigs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"), col("k"))

  /** q89: boolean-AND retrieval ([[Retrieval.booleanAnd]]) — docs
    * containing all of {join, filter, stream}. */
  def q89BoolRetrieval(spark: SparkSession, dir: String): DataFrame =
    Retrieval.booleanAnd(Tables.documents(spark, dir), "doc_id", "text",
        Seq("join", "filter", "stream"))
      .orderBy(col("doc_id"))

  /** q90: per-event-type z-score outlier counts over exact decimal
    * moments ([[Profile.outlierStats]]). */
  def q90Outliers(spark: SparkSession, dir: String): DataFrame =
    Profile.outlierStats(Tables.events(spark, dir), "event_type", "value")
      .orderBy(col("event_type"))

  /** q94: per-returnflag Pearson correlation of quantity vs extended
    * price from exact split-long cent moments ([[Profile.groupedCorr]]). */
  def q94GroupedCorr(spark: SparkSession, dir: String): DataFrame =
    Profile.groupedCorr(Tables.lineitem(spark, dir),
        "l_returnflag", "l_quantity", "l_extendedprice")
      .orderBy(col("l_returnflag"))

  /** q95: token co-occurrence lift ([[TextOps.cooccurLift]]) — the 20
    * strongest associations among pairs sharing ≥ 50 docs; all-integer
    * lift keeps the gate exact. */
  def q95CooccurLift(spark: SparkSession, dir: String): DataFrame =
    TextOps.cooccurLift(Tables.documents(spark, dir), "doc_id", "text",
        minPairDocs = 50)
      .orderBy(col("lift_ppm").desc, col("tok_a"), col("tok_b"))
      .limit(20)

  /** q96: top session paths ([[Events.sessionPaths]]) — 30-minute-gap
    * sessions, 15 most frequent event-type sequences. */
  def q96SessionPaths(spark: SparkSession, dir: String): DataFrame =
    Events.sessionPaths(Tables.events(spark, dir), "user_id", "ts",
      "event_id", "event_type", gapMicros = 1800L * 1000000L, topK = 15)

  /** q97: semi-structured property extraction — the JSON `props` column
    * parsed per event (`get_json_object`, codegen'd path evaluation, no
    * UDF) and profiled per event type. The extraction happens in the
    * scan projection, so at scale the JSON never survives past the
    * map side. */
  def q97JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_k"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy(col("event_type"))

  /** q98: redelivery suppression ([[Events.windowDedupFlags]]) — events
    * repeating the same (user, type) within 60 s are flagged; per-type
    * kept/dropped counts. */
  def q98WindowDedup(spark: SparkSession, dir: String): DataFrame =
    Events.windowDedupFlags(Tables.events(spark, dir), "ts", "event_id",
        Seq("user_id", "event_type"), windowMicros = 60L * 1000000L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("is_redelivery"), 1L).otherwise(0L)).as("n_redelivered"))
      .orderBy(col("event_type"))

  /** q99: date-spine gap filling — daily order counts for one clerk-free
    * slice over a fixed month, with explicit zero rows for days without
    * orders (the reporting-table densify: a generated date spine LEFT
    * JOINs the fact aggregate; the spine is a literal-range projection,
    * no data shuffle beyond the one groupBy). */
  def q99GapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-03-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-04-01").cast("timestamp") &&
        col("o_orderkey") % 16 === 0)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val spine = spark.range(1).select(explode(sequence(
      lit("1995-03-01").cast("date"), lit("1995-03-31").cast("date"),
      expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy(col("day"))
  }

  /** q100: referential-integrity audit — the post-load validation the
    * reference's process scripts ran as ad-hoc SQL
    * (/root/reference/Wrap.pm:373-398 postDumpExecs): orphan counts for
    * each FK edge of the star schema, as LEFT ANTI joins (dims broadcast;
    * the fact-fact edge shuffles once on the key). One row per edge so
    * the gate pins every count. */
  def q100Integrity(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, key: String,
             parent: DataFrame, pkey: String, bcast: Boolean): DataFrame = {
      val p = parent.select(col(pkey)).distinct()
      child.select(col(key))
        .join(if (bcast) broadcast(p) else p, col(key) === col(pkey), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("edge"), col("n_orphans"))
    }
    val li = Tables.lineitem(spark, dir)
    edge("lineitem->orders", li, "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey", bcast = false)
      .unionByName(edge("orders->customer", Tables.orders(spark, dir),
        "o_custkey", Tables.customer(spark, dir), "c_custkey", bcast = true))
      .unionByName(edge("customer->nation", Tables.customer(spark, dir),
        "c_nationkey", Tables.nation(spark, dir), "n_nationkey", bcast = true))
      .unionByName(edge("lineitem->part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey", bcast = true))
      .unionByName(edge("lineitem->supplier", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey", bcast = true))
      .orderBy(col("edge"))
  }

  /** q101: running totals — cumulative order count and spend per
    * customer (rows-unbounded-preceding frame over ONE customer-keyed
    * exchange; the running sum stays DECIMAL inside the frame so every
    * prefix is exact). Sliced to every-64th customer to keep the gate
    * small. */
  def q101RunningTotals(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") % 64 === 0)
      .select(col("o_custkey"), col("o_orderkey"),
        count(lit(1)).over(w).as("cum_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("cum_spend"))
      .orderBy(col("o_custkey"), col("cum_orders"))
  }

  /** q102: per-language rank normalization of document length —
    * `percent_rank` ((rank−1)/(n−1): an exact integer ratio, so the gate
    * is hash-exact) plus a top-decile flag. Score calibration across
    * heterogeneous strata is how mixed-source quality scores become
    * comparable before a global threshold. One stratum exchange. */
  def q102RankNorm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        percent_rank().over(w).as("len_pctl"))
      .withColumn("top_decile", col("len_pctl") >= 0.9)
      .orderBy(col("doc_id"))
  }

  /** q103: embedding-coverage audit — documents without an embedding row
    * and embeddings without a backing document, as two anti-join counts
    * plus the matched count; the cross-modal referential check an
    * embedding pipeline runs after every refresh. */
  def q103EmbedCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val embs = Tables.embeddings(spark, dir).select(col("vec_id"))
    val missing = docs.join(embs, col("doc_id") === col("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("docs_without_embedding").as("check"), col("n"))
    val orphaned = embs.join(docs, col("vec_id") === col("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("embeddings_without_doc").as("check"), col("n"))
    val matched = docs.join(embs, col("doc_id") === col("vec_id"))
      .agg(count(lit(1)).as("n"))
      .select(lit("matched").as("check"), col("n"))
    missing.unionByName(orphaned).unionByName(matched).orderBy(col("check"))
  }

  /** q104: CUBE over (event_type, weekday) — all four grouping levels in
    * one pass (completes the rollup q7 / grouping-sets q33 family);
    * decimal-exact value sums. */
  def q104Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), dayofweek(col("ts")).cast("long").as("wd"),
        col("value"))
      .cube(col("event_type"), col("wd"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy(col("event_type").asc_nulls_first, col("wd").asc_nulls_first)

  /** q105: last-touch attribution — each purchase attributed to the most
    * recent prior view by the same user ([[AsOfJoin.asof]]'s union +
    * running-last shape: ONE user shuffle, no range nested loop), plus
    * the attribution age and a 7-day-window flag. Purchases with no
    * prior view stay unattributed (null). */
  def q105Attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts"))
    AsOfJoin.asof(purchases, views, Seq("user_id"), "ts", "ts",
        Seq("event_id", "ts"))
      .select(col("event_id"), col("user_id"),
        col("asof_event_id").as("view_event_id"),
        (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("age_us"),
        (col("asof_ts").isNotNull &&
          unix_micros(col("ts")) - unix_micros(col("asof_ts")) <=
            7L * 86400L * 1000000L).as("within_7d"))
      .orderBy(col("event_id"))
  }

  /** q106: reproducible global training order — the first 50 documents
    * in hash order ([[Layout.knuthHash]], the same order shards are read
    * in). The plan is a TakeOrdered (per-partition top-k, merge on one
    * reducer), NEVER a full global sort: reproducible data order at
    * 100 TB costs k·partitions, not n·log n. */
  def q106TrainOrder(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Layout.knuthHash(col("doc_id")).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("h"))

  /** q107: language-distribution drift between two corpus snapshots
    * (even/odd doc ids as stand-ins): per language, both counts and the
    * ppm share delta in ALL-INTEGER arithmetic — the distribution-shift
    * alarm a continuously refreshed corpus monitors. */
  def q107LangDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val a = d.filter(col("doc_id") % 2 === 0)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_a"))
    val b = d.filter(col("doc_id") % 2 === 1)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_b"))
    val ta = a.agg(sum(col("n_a")).as("t_a"))
    val tb = b.agg(sum(col("n_b")).as("t_b"))
    a.join(b, Seq("lang"), "full")
      .na.fill(0L, Seq("n_a", "n_b"))
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col("lang"), col("n_a"), col("n_b"),
        expr("(1000000 * n_a) div t_a").as("share_a_ppm"),
        expr("(1000000 * n_b) div t_b").as("share_b_ppm"))
      .withColumn("drift_ppm", col("share_b_ppm") - col("share_a_ppm"))
      .orderBy(col("lang"))
  }

  /** q108: per-source duplication report — docs, distinct normalized
    * fingerprints, and the duplicate share in integer ppm: the
    * datasheet metric a corpus release publishes per provenance. One
    * map-side-combinable aggregation over the fingerprint projection. */
  def q108DupRate(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), TextOps.fingerprint(col("text")).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"))
      .withColumn("dup_ppm",
        expr("(1000000 * (n_docs - n_unique)) div n_docs"))
      .orderBy(col("source"))

  /** q109: incremental signature-store update — two DISJOINT batch
    * signature stores ([[Dedup.minhashSignatures]] over doc_id % 3
    * splits) merged by per-(doc, k) MIN must equal the signatures
    * computed from scratch over the whole corpus, so the oracle is
    * exactly q88's: the merge law that lets a standing 100 TB signature
    * table absorb a new load without re-reading history, value-checked
    * in the driver gate (not just the spec). */
  def q109SigMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val standing = Dedup.minhashSignatures(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
    val delta = Dedup.minhashSignatures(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    standing.unionByName(delta)
      .groupBy(col("doc_id"), col("k")).agg(min(col("mh")).as("mh"))
      .orderBy(col("doc_id"), col("k"))
  }

  /** q196: PARTITIONED SIGNATURE STORE under the merge law
    * ([[Dedup.writeSignatureStore]] / [[Dedup.mergeIntoSignatureStore]])
    * — the q109 incremental contract run through the doc-bucketed
    * layout: the standing store (docs with doc_id % 3 ≠ 0) absorbs a
    * delta load of the REMAINING docs plus a RE-LOAD of docs with
    * doc_id % 5 = 1 (already standing — identical text, identical
    * signatures, so the per-(doc, k) MIN makes re-ingest idempotent);
    * only the delta's doc buckets are read and rewritten. The final
    * store must hold exactly the whole-corpus signatures — q88/q109's
    * oracle verbatim. */
  /** The q196-q198 family's shared base: the PARTIAL standing corpus's
    * (doc_id % 3 ≠ 0) plain signature store, buckets = 16, no index —
    * each gate clones and layers its own merge/forget/crash state. */
  private def sharedPartialSigStore(spark: SparkSession,
                                    dir: String): String =
    Fixtures.sharedDir(s"textstore-partial-$dir") { p =>
      Dedup.writeSignatureStore(
        Dedup.minhashSignatures(
          Tables.documents(spark, dir).filter(col("doc_id") % 3 =!= 0),
          "doc_id", "text"),
        p.toString, "doc_id", buckets = 16)
    }

  def q196SigStoreMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val delta = Dedup.minhashSignatures(
      docs.filter(col("doc_id") % 3 === 0 || col("doc_id") % 5 === 1),
      "doc_id", "text")
    val store = Fixtures.cloneDir(
      sharedPartialSigStore(spark, dir), "graft-q196-")
    Dedup.mergeIntoSignatureStore(spark, store, delta, "doc_id")
    Dedup.readSignatureStore(spark, store)._1
      .select(col("doc_id"), col("k"), col("mh"))
      .orderBy(col("doc_id"), col("k"))
  }

  /** q197: FORGET documents from the signature store
    * ([[Dedup.forgetDocsFromSignatureStore]]) — the text modality's
    * right-to-be-forgotten, after the q196 merge: docs with
    * doc_id % 7 = 3 are removed; their buckets are DERIVED from the
    * ids (no discovery scan), only those directories are rewritten,
    * and the store must hold exactly the whole-corpus signatures minus
    * the forgotten docs' rows. */
  def q197SigStoreForget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val delta = Dedup.minhashSignatures(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    val store = Fixtures.cloneDir(
      sharedPartialSigStore(spark, dir), "graft-q197-")
    Dedup.mergeIntoSignatureStore(spark, store, delta, "doc_id")
    Dedup.forgetDocsFromSignatureStore(spark, store,
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")), "doc_id")
    Dedup.readSignatureStore(spark, store)._1
      .select(col("doc_id"), col("k"), col("mh"))
      .orderBy(col("doc_id"), col("k"))
  }

  /** q198: RECOVERY from a crashed store mutation
    * ([[graft.operators.StoreSwap.transact]], value-gated) — the q196
    * store (after its merge) forgets, inside one outer transaction, the
    * docs of buckets 2 and 5 except the doc_id % 11 = 5 ones, and every
    * doc of bucket 9; then the process "dies" before the manifest
    * rename (the transaction body throws). The crash must leave the
    * store at its pre-crash version with the staged generation an inert
    * orphan on disk; the re-run of the forget alone must commit and
    * reclaim the orphan. The result: buckets 2/5 hold exactly the
    * doc_id % 11 = 5 rows, bucket 9 holds nothing, every other bucket is
    * untouched. The oracle predicts the surviving set closed-form from
    * the bucket arithmetic — if the crash leaked (a partial forget
    * published), the re-run forgot too little (stale rows resurrect) or
    * too much (untouched buckets change), or dropped a bucket, the hash
    * breaks. */
  def q198SigStoreRecover(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val delta = Dedup.minhashSignatures(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    val store = Fixtures.cloneDir(
      sharedPartialSigStore(spark, dir), "graft-q198-")
    Dedup.mergeIntoSignatureStore(spark, store, delta, "doc_id")
    val bucket = pmod(col("doc_id"), lit(16L))
    val forget = docs.filter(
        (bucket.isin(2L, 5L) && col("doc_id") % 11 =!= 5) || bucket === 9L)
      .select(col("doc_id"))
    def gens() = Option(new java.io.File(s"$store/data.gens").list())
      .fold(Set.empty[String])(_.toSet)
    val (versions, before) = (StoreSwap.snapshotVersions(spark, store), gens())
    val crash = scala.util.Try(StoreSwap.transact(spark, store) {
      Dedup.forgetDocsFromSignatureStore(spark, store, forget, "doc_id")
      throw new IllegalStateException("q198: crash before the manifest rename")
    })
    require(crash.failed.toOption.exists(_.getMessage.startsWith("q198:")),
      s"q198: the crashed transaction did not fail as staged: $crash")
    require(StoreSwap.snapshotVersions(spark, store) == versions,
      "q198: the crashed transaction published a version")
    val orphans = gens() -- before
    require(orphans.nonEmpty, "q198: the crash left no orphan generation")
    Dedup.forgetDocsFromSignatureStore(spark, store, forget, "doc_id")
    require(gens().intersect(orphans).isEmpty,
      s"q198: the re-run left the orphan generations $orphans")
    Dedup.readSignatureStore(spark, store)._1
      .select(col("doc_id"), col("k"), col("mh"))
      .orderBy(col("doc_id"), col("k"))
  }

  /** The q205-q207 delta batch: near-dup copies (first token dropped,
    * ids shifted by `shift`) of the docs with `doc_id % mod = 0`. */
  private[operators] def nearDupDelta(docs: DataFrame, mod: Int,
                                      shift: Long,
                                      dropTokens: Int): DataFrame = {
    val pat = "^" + ("\\S+\\s+" * dropTokens)
    docs.filter(col("doc_id") % mod === 0)
      .select((col("doc_id") + shift).as("doc_id"),
        regexp_replace(col("text"), pat, "").as("text"))
  }

  /** q205: INCREMENTAL LSH JUDGMENT through the band index
    * ([[Dedup.writeBandIndex]] + [[Dedup.lshJudgeStore]]) — the
    * signature store co-locates by DOC (merge/forget-bounded); near-dup
    * lookup needs the corpus keyed by BAND COLLISION or every batch
    * rescans all signatures. The index is that projection, bucketed by
    * band value so the delta's bands prune the read. Banding uses a
    * polynomial fold (not murmur) precisely so this oracle can replay
    * signatures → bands → the exact candidate set → Jaccard verdicts:
    * no recall assumption hides behind a non-replayable hash. */
  def q205LshJudgeStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val standing = docs.select(col("doc_id"), col("text"))
    val delta = nearDupDelta(standing, 3, 100000L, 1)
    // judgment-only gate: reads the SHARED base store in place (the
    // sidecar means verification reads candidate docs' own buckets,
    // not the standing corpus text — standingDocs is ignored with it)
    val store = sharedTextStore(spark, dir)
    Dedup.lshJudgeStore(spark, store, standing, delta, "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The composed text-store gates' shared corpus-scale base — the
    * FULL standing corpus's signature store (buckets = 16) plus band
    * index (bands = 8) plus shingle sidecar. Built ONCE per JVM
    * ([[Fixtures.sharedDir]]);
    * gates that mutate store state clone it ([[Fixtures.cloneDir]]),
    * judgment-only gates read it in place. The build closure is the
    * exact sequence the gates used to run inline per invocation
    * (r14 query_prepare: rebuilding it per gate per run put the
    * harness prepare bill at 605 s), so every oracle replays the same
    * closed form against identical content. */
  private[operators] def sharedTextStore(spark: SparkSession,
                                         dir: String): String =
    Fixtures.sharedDir(s"textstore-$dir") { p =>
        val standing = Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"))
        val store = p.toString
        Dedup.writeSignatureStore(
          Dedup.minhashSignatures(standing, "doc_id", "text"),
          store, "doc_id", buckets = 16)
        Dedup.writeBandIndex(spark, store, "doc_id", bands = 8)
        Dedup.writeShingleSidecar(spark, store, standing, "doc_id",
          "text")
    }

  /** q206: the band index ABSORBS a load and judges the next one — the
    * daily flow: delta1 merges into signature store then band index
    * ([[Dedup.mergeIntoBandIndex]], bucket-local distinct-merge through
    * the staged swap); delta2 is then judged against standing ∪ delta1.
    * A lost band row (delta2 misses a delta1 partner) or a duplicated
    * one (verification still dedupes, but the candidate set is gated
    * exactly) breaks the hash. */
  def q206BandIndexMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val standing = docs.select(col("doc_id"), col("text"))
    val delta1 = nearDupDelta(standing, 3, 100000L, 1)
    val delta2 = nearDupDelta(standing, 5, 200000L, 2)
    // mutating gate: a private clone of the shared base store
    val store = Fixtures.cloneDir(
      sharedTextStore(spark, dir), "graft-q206-")
    Dedup.mergeIntoSignatureStore(spark, store,
      Dedup.minhashSignatures(delta1, "doc_id", "text"), "doc_id")
    // the ingest flow's sidecar half: delta1's shingle hashes land in
    // their doc buckets, so judging delta2 verifies delta1 partners
    // from the sidecar too (standing ∪ delta1 text never re-read)
    Dedup.mergeShinglesIntoStore(spark, store, delta1, "doc_id", "text")
    Dedup.mergeIntoBandIndex(spark, store,
      delta1.select(col("doc_id")), "doc_id")
    Dedup.lshJudgeStore(spark, store, standing.unionByName(delta1),
        delta2, "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q207: FORGET from the band index ([[Dedup.forgetFromBandIndex]],
    * run BEFORE the signature forget — its buckets derive from the
    * docs' current signatures) — forgotten docs must stop appearing as
    * near-dup partners in subsequent judgments, the same
    * right-to-be-forgotten contract q202 gates for the PQ path. */
  def q207BandIndexForget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val standing = docs.select(col("doc_id"), col("text"))
    val delta = nearDupDelta(standing, 3, 100000L, 1)
    // mutating gate (forget): a private clone of the shared base store
    val store = Fixtures.cloneDir(
      sharedTextStore(spark, dir), "graft-q207-")
    val doomed = standing.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id"))
    Dedup.forgetFromBandIndex(spark, store, doomed, "doc_id")
    // also drops the doomed docs' shingle sidecar rows (same mutation)
    Dedup.forgetDocsFromSignatureStore(spark, store, doomed, "doc_id")
    Dedup.lshJudgeStore(spark, store, standing, delta, "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q211: TARGETED BAND-INDEX REPAIR
    * ([[Dedup.reindexDocsInBandIndex]]) — a third of the corpus is
    * re-ingested with CHANGED text (first token dropped, SAME ids): the
    * signature MIN-merge moves those docs' signatures, the index merge
    * necessarily leaves their old band rows stale (q206's documented
    * caveat), and the repair removes exactly them through the per-doc
    * band inventory — doc-footprint, where a full [[Dedup
    * .writeBandIndex]] rebuild used to be the only remedy. The gate
    * dumps the ENTIRE index; the oracle predicts it closed-form as the
    * banding of the post-merge signatures (a MIN-merge of two ingests
    * IS the minhash of the union of their shingle sets), so one stale
    * or missing row anywhere breaks the hash. */
  def q211BandIndexReindex(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val standing = docs.select(col("doc_id"), col("text"))
    // the change must ADD shingles (prepend), not remove them (a
    // token-drop's shingles are a subset of the original's, so the
    // MIN-merge would leave every signature unchanged and the repair
    // would be vacuously tested — caught by BandIndexProbe's
    // n_stale_removed)
    val changed = standing.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"),
        concat(lit("zzz qqq xyz "), col("text")).as("text"))
    // mutating gate: a private clone of the shared base store (its
    // shingle sidecar goes unused here — the gate dumps bands only,
    // and none of the three mutations below consult it)
    val store = Fixtures.cloneDir(
      sharedTextStore(spark, dir), "graft-q211-")
    Dedup.mergeIntoSignatureStore(spark, store,
      Dedup.minhashSignatures(changed, "doc_id", "text"), "doc_id")
    Dedup.mergeIntoBandIndex(spark, store,
      changed.select(col("doc_id")), "doc_id")
    Dedup.reindexDocsInBandIndex(spark, store,
      changed.select(col("doc_id")), "doc_id")
    StoreSwap.snapshot(spark, store).read("bands", "bb_bucket")
      .select(col("id").as("doc_id"), col("band").cast("long").as("band"),
        col("bsig"))
      .orderBy(col("doc_id"), col("band"), col("bsig"))
  }

  /** q220: the COMPOSED text lifecycle on the store manifest
    * ([[graft.operators.StoreSwap]]): build (data + band index +
    * shingle sidecar) → ingest delta1 (signature MIN-merge, shingle
    * replace-merge, index + inventory merge) → forget a seventh of the
    * original standing → judge delta2. q206's daily flow plus a
    * forget, with every mutation committing through one manifest
    * rename into immutable generation dirs — a concurrent reader
    * resolves a complete old or new snapshot, never a mid-swap hole.
    * The oracle replays the whole chain closed-form; equality proves
    * the commit protocol content-invariant (VersionedStoreSpec proves
    * the reader guarantees it adds). */
  def q220VersionedStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val standing = docs.select(col("doc_id"), col("text"))
    val delta1 = nearDupDelta(standing, 3, 100000L, 1)
    val delta2 = nearDupDelta(standing, 5, 200000L, 2)
    // mutating gate: a private clone of the shared VERSIONED base
    val store = Fixtures.cloneDir(
      sharedTextStore(spark, dir), "graft-q220-")
    Dedup.mergeIntoSignatureStore(spark, store,
      Dedup.minhashSignatures(delta1, "doc_id", "text"), "doc_id")
    Dedup.mergeShinglesIntoStore(spark, store, delta1, "doc_id", "text")
    Dedup.mergeIntoBandIndex(spark, store,
      delta1.select(col("doc_id")), "doc_id")
    val doomed = standing.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id"))
    Dedup.forgetFromBandIndex(spark, store, doomed, "doc_id")
    Dedup.forgetDocsFromSignatureStore(spark, store, doomed, "doc_id")
    Dedup.lshJudgeStore(spark, store, standing.unionByName(delta1),
        delta2, "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q226: MANIFEST-PRUNED CDC over the versioned SIGNATURE store
    * ([[Dedup.signatureStoreDiff]]) — the text twin of q225: the store
    * takes an insert load (delta1's shifted near-dups), an UPDATE load
    * (docs gaining shingles, so the MIN-merge moves some signatures),
    * and a forget, and the v0→live change feed must be exactly
    * {insert: delta1's ids, delete: the forgotten sevenths, update:
    * the changed docs whose signature actually moved}. Buckets whose
    * generation lists match are never opened (UnifiedStoreSpec asserts
    * the zero-file property); the oracle recomputes both versions'
    * signatures closed-form and diffs them — a doc whose re-ingest
    * changed nothing must NOT appear, which gates the semantic
    * (per-doc fingerprint) layer, not just the physical diff. */
  def q226SigStoreCdc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val standing = docs.select(col("doc_id"), col("text"))
    val delta1 = nearDupDelta(standing, 3, 100000L, 1)
    val changed = standing.filter(col("doc_id") % 11 === 4)
      .select(col("doc_id"),
        concat(lit("zzz qqq xyz "), col("text")).as("text"))
    // mutating gate: a private clone of the shared VERSIONED base —
    // its band index and sidecar are extra state the diff never reads
    // (signatureStoreDiff compares data manifests only); the forget
    // additionally rewrites the sidecar's doomed buckets, which does
    // not touch data's version line
    val store = Fixtures.cloneDir(
      sharedTextStore(spark, dir), "graft-q226-")
    GraftConf.SnapshotKeep.withValue(spark, "8") {
      val v0 = Dedup.signatureStoreVersions(spark, store).last
      Dedup.mergeIntoSignatureStore(spark, store,
        Dedup.minhashSignatures(delta1, "doc_id", "text"), "doc_id")
      Dedup.mergeIntoSignatureStore(spark, store,
        Dedup.minhashSignatures(changed, "doc_id", "text"), "doc_id")
      Dedup.forgetDocsFromSignatureStore(spark, store,
        standing.filter(col("doc_id") % 7 === 3).select(col("doc_id")),
        "doc_id")
      val live = Dedup.signatureStoreVersions(spark, store).last
      Dedup.signatureStoreDiff(spark, store, "doc_id", v0, live)
        .orderBy(col("change"), col("doc_id"))
    }
  }

  /** q227: HISTORICAL JUDGMENT REPLAY over the text store — `data`,
    * `bands`, `bands_inv`, and `shingles` pin TOGETHER under one
    * retained `store.v<N>` manifest ([[graft.operators.StoreSwap]]),
    * so judging a batch AS OF a version replays the verdicts that
    * version's live judgment produced, bit-exactly. The gate ingests
    * delta1 through the composed exactly-once flow — a REAL
    * transaction: three merges plus the ledger ack in ONE manifest
    * rename ([[graft.operators.StoreSwap
    * .transact]]) — then judges delta2 as of the PRE-ingest version;
    * the oracle replays the judgment against the original standing
    * corpus only. A leaked delta1 band row, sidecar row, or signature
    * breaks the hash. */
  def q227JudgmentReplay(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val standing = docs.select(col("doc_id"), col("text"))
    val delta1 = nearDupDelta(standing, 3, 100000L, 1)
    val delta2 = nearDupDelta(standing, 5, 200000L, 2)
    // mutating gate: a private clone of the shared base
    val store = Fixtures.cloneDir(
      sharedTextStore(spark, dir), "graft-q227-")
    GraftConf.SnapshotKeep.withValue(spark, "8") {
      val v0 = Dedup.signatureStoreVersions(spark, store).last
      Dedup.ingestBatchIntoStore(spark, store, delta1, "doc_id", "text",
        batchId = Some(0L))
      Dedup.lshJudgeStoreAt(spark, store, delta2, "doc_id", "text", v0)
        .orderBy(col("id_a"), col("id_b"))
    }
  }

  /** q110: native `session_window` semantics — Spark's merging-window
    * session aggregation (the STREAMING operator, run in batch) gated
    * against an independent SQL lag+cumsum sessionization: the two
    * formulations must agree on every session's start and size. This is
    * what certifies [[graft.streaming.StreamingLoad.sessionCounts]]'s
    * semantics, which a continuous plan itself cannot (no SQL oracle for
    * unbounded streams). */
  def q110SessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("n_events"))
      .orderBy(col("user_id"), col("sess_start"))

  /** q111: chunking conservation — non-overlapping chunks
    * ([[TextOps.chunkTokens]], stride == size) must partition every
    * document's tokens exactly: per doc, chunk count = ⌈n/size⌉ and the
    * chunk token sum = n. The oracle derives both invariants from token
    * counts alone, so the gate proves the window arithmetic rather than
    * restating it. */
  def q111ChunkConserve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val chunks = TextOps.chunkTokens(docs, "doc_id", "text",
        chunkSize = 32, stride = 32)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_tokens")).as("sum_chunk_tokens"))
    docs.select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      .join(chunks, Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q81_cms_heavy"     -> q81CmsHeavy _,
    "q82_incr_novelty"  -> q82IncrNovelty _,
    "q83_lm_fluency"    -> q83LmFluency _,
    "q84_shard_manifest" -> q84ShardManifest _,
    "q85_semdedup"      -> q85SemDedup _,
    "q86_funnel"        -> q86Funnel _,
    "q87_retention"     -> q87Retention _,
    "q88_minhash_sigs"  -> q88MinhashSigs _,
    "q89_bool_retrieval" -> q89BoolRetrieval _,
    "q90_outliers"      -> q90Outliers _,
    "q94_grouped_corr"  -> q94GroupedCorr _,
    "q95_cooccur_lift"  -> q95CooccurLift _,
    "q96_session_paths" -> q96SessionPaths _,
    "q97_json_extract"  -> q97JsonExtract _,
    "q98_window_dedup"  -> q98WindowDedup _,
    "q99_gap_fill"      -> q99GapFill _,
    "q100_integrity"    -> q100Integrity _,
    "q101_running_totals" -> q101RunningTotals _,
    "q102_rank_norm"    -> q102RankNorm _,
    "q103_embed_coverage" -> q103EmbedCoverage _,
    "q104_cube"         -> q104Cube _,
    "q105_attribution"  -> q105Attribution _,
    "q106_train_order"  -> q106TrainOrder _,
    "q107_lang_drift"   -> q107LangDrift _,
    "q108_dup_rate"     -> q108DupRate _,
    "q109_sig_merge"    -> q109SigMerge _,
    "q196_sig_store_merge" -> q196SigStoreMerge _,
    "q197_sig_store_forget" -> q197SigStoreForget _,
    "q198_sig_store_recover" -> q198SigStoreRecover _,
    "q205_lsh_judge_store" -> q205LshJudgeStore _,
    "q206_band_index_merge" -> q206BandIndexMerge _,
    "q207_band_index_forget" -> q207BandIndexForget _,
    "q211_band_index_reindex" -> q211BandIndexReindex _,
    "q220_versioned_store" -> q220VersionedStore _,
    "q226_sig_store_cdc" -> q226SigStoreCdc _,
    "q227_judgment_replay" -> q227JudgmentReplay _,
    "q110_session_window" -> q110SessionWindow _,
    "q111_chunk_conserve" -> q111ChunkConserve _,
  )

  /** (k, a, b) coefficient VALUES rows for the q88 oracle, generated from
    * the same [[Dedup.minhashCoefs]] table the Spark plan uses. */
  private def minhashCoefRows: String =
    Dedup.minhashCoefs(16, 7L).zipWithIndex
      .map { case ((a, b), k) => s"($k, $a, $b)" }.mkString(", ")

  /** CASE expression replaying [[Sketches.cmsBucket]] for each depth —
    * generated from the same coefficient table so the SQL provably
    * mirrors the Spark hash. */
  private def cmsBucketSql(key: String): String = {
    val whens = Sketches.cmsCoefs.take(CmsDepth).zipWithIndex.map {
      case ((a, b), d) =>
        s"WHEN $d THEN ((($key % ${Sketches.P}) * $a + $b) % ${Sketches.P}) % $CmsWidth"
    }
    s"CASE depth ${whens.mkString(" ")} END"
  }

  private val depthValues: String =
    (0 until CmsDepth).map(d => s"($d)").mkString(",")

  private val oraclesA: Map[String, String] = Map(
    "q81_cms_heavy" ->
      s"""WITH d(depth) AS (VALUES $depthValues),
        |sk AS (
        |  SELECT depth, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT d.depth, ${cmsBucketSql("e.user_id")} AS bucket
        |    FROM events e, d)
        |  GROUP BY depth, bucket),
        |top AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
        |  FROM events GROUP BY user_id
        |  ORDER BY exact_cnt DESC, user_id LIMIT 10),
        |pb AS (
        |  SELECT t.user_id, t.exact_cnt, d.depth,
        |    ${cmsBucketSql("t.user_id")} AS bucket
        |  FROM top t, d)
        |SELECT pb.user_id, pb.exact_cnt,
        |  CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS cms_est
        |FROM pb LEFT JOIN sk USING (depth, bucket)
        |GROUP BY pb.user_id, pb.exact_cnt
        |ORDER BY exact_cnt DESC, user_id""".stripMargin,
    "q82_incr_novelty" ->
      """WITH batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
        |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |cfp AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM corpus),
        |clines AS (
        |  SELECT DISTINCT md5(unnest(string_split(text, chr(10)))) AS lh FROM corpus),
        |blines AS (
        |  SELECT DISTINCT doc_id, lh FROM (
        |    SELECT doc_id, md5(unnest(string_split(text, chr(10)))) AS lh FROM batch)),
        |ls AS (
        |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(count(c.lh) AS BIGINT) AS n_seen
        |  FROM blines b LEFT JOIN clines c USING (lh)
        |  GROUP BY b.doc_id)
        |SELECT b.doc_id,
        |  (cfp.fp IS NOT NULL) AS exact_dup,
        |  coalesce(ls.n_lines, 0) AS n_lines,
        |  coalesce(ls.n_seen, 0) AS n_seen,
        |  CASE WHEN coalesce(ls.n_lines, 0) = 0 THEN NULL
        |       ELSE CAST(ls.n_lines - ls.n_seen AS DOUBLE) / ls.n_lines
        |  END AS novelty
        |FROM batch b
        |LEFT JOIN cfp
        |  ON md5(regexp_replace(lower(trim(b.text)), '\s+', ' ', 'g')) = cfp.fp
        |LEFT JOIN ls ON ls.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "q83_lm_fluency" ->
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, norm, unnest(range(1, CAST(length(norm) AS BIGINT))) AS i
        |  FROM n),
        |g2 AS (SELECT doc_id, substr(norm, CAST(i AS INTEGER), 2) AS g FROM pos),
        |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM g2 GROUP BY g),
        |model AS (
        |  SELECT g,
        |    (1000000 * c2) // CAST(sum(c2) OVER (PARTITION BY substr(g, 1, 1)) AS BIGINT)
        |      AS credit
        |  FROM c2),
        |scored AS (
        |  SELECT g2.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(m.credit) AS BIGINT) AS s
        |  FROM g2 JOIN model m USING (g)
        |  GROUP BY g2.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(sc.s AS DOUBLE) / sc.n_bigrams AS fluency
        |FROM documents d LEFT JOIN scored sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q84_shard_manifest" ->
      """WITH s AS (
        |  SELECT doc_id, lang, n_chars,
        |    ((doc_id % 2147483647) * 2654435761) % 4294967296 AS h,
        |    (((doc_id % 2147483647) * 2654435761) % 4294967296) % 8 AS shard,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS rn_a,
        |    row_number() OVER (PARTITION BY shard ORDER BY h DESC, doc_id DESC) AS rn_d
        |  FROM s)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  max(CASE WHEN rn_a = 1 THEN doc_id END) AS first_doc,
        |  max(CASE WHEN rn_d = 1 THEN doc_id END) AS last_doc
        |FROM r
        |GROUP BY shard
        |ORDER BY shard""".stripMargin,
    "q85_semdedup" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |    list_transform(embedding, v -> v * CAST(1.5 AS FLOAT)), label
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |cent AS (
        |  SELECT label, CAST(x[2] AS BIGINT) AS pos,
        |    CAST(sum(CAST(round(CAST(x[1] AS DOUBLE) * 1048576.0) AS BIGINT))
        |         AS DOUBLE) / count(*) / 1048576.0 AS c
        |  FROM (
        |    SELECT label,
        |      unnest(list_zip(embedding, generate_series(0, len(embedding) - 1))) AS x
        |    FROM corpus) t
        |  GROUP BY label, CAST(x[2] AS BIGINT)),
        |cv AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
        |d AS (
        |  SELECT e.vec_id, c.label,
        |    list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, c.cv),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
        |      (acc, v) -> acc + v) AS d2
        |  FROM corpus e, cv c),
        |asg AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS cluster FROM (
        |    SELECT vec_id, label,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
        |    FROM d)
        |  WHERE rn = 1),
        |av AS (
        |  SELECT c.vec_id, c.embedding, a.cluster,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(c.embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, x) -> acc + x))
        |      AS nrm
        |  FROM corpus c JOIN asg a USING (vec_id)),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id FROM av a JOIN av b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_reduce(list_prepend(0.0, list_transform(
        |          list_zip(a.embedding, b.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
        |          (acc, v) -> acc + v) / (a.nrm * b.nrm) >= 0.99)
        |SELECT av.vec_id, av.cluster, (dr.vec_id IS NULL) AS keep
        |FROM av LEFT JOIN dropped dr ON av.vec_id = dr.vec_id
        |ORDER BY av.vec_id""".stripMargin,
    "q86_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id AS u, min(epoch_us(ts)) AS t
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.u
        |  WHERE e.event_type = 'click'
        |    AND epoch_us(e.ts) > s1.t
        |    AND epoch_us(e.ts) <= s1.t + 86400000000
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.u
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) > s2.t
        |    AND epoch_us(e.ts) <= s2.t + 86400000000
        |  GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
        |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
        |UNION ALL
        |SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
        |UNION ALL
        |SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
        |ORDER BY step""".stripMargin,
    "q87_retention" ->
      """WITH first AS (
        |  SELECT user_id AS u, min(CAST(ts AS DATE)) AS cohort
        |  FROM events GROUP BY user_id),
        |active AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events)
        |SELECT f.cohort,
        |  CAST(date_diff('day', f.cohort, a.day) AS BIGINT) AS day_offset,
        |  CAST(count(DISTINCT a.u) AS BIGINT) AS n_active
        |FROM active a JOIN first f ON a.u = f.u
        |WHERE date_diff('day', f.cohort, a.day) <= 7
        |GROUP BY f.cohort, date_diff('day', f.cohort, a.day)
        |ORDER BY cohort, day_offset""".stripMargin,
    "q88_minhash_sigs" -> minhashSigsSql,
    // two disjoint batch stores merged by MIN ≡ from-scratch signatures —
    // the identical oracle IS the merge-law statement
    "q109_sig_merge" -> minhashSigsSql,
    // q196: the partitioned store after the (idempotent-re-ingest)
    // merge holds exactly the whole-corpus signatures; q197: minus the
    // forgotten docs
    "q196_sig_store_merge" -> minhashSigsSql,
    "q197_sig_store_forget" -> minhashSigsSqlCond("id % 7 <> 3"),
    // untouched buckets keep the whole-corpus signatures; buckets 2/5
    // hold only the staged (id % 11 = 5) docs' rows; bucket 9 is empty
    "q198_sig_store_recover" -> minhashSigsSqlCond(
      "(id % 16) NOT IN (2, 5, 9) OR ((id % 16) IN (2, 5) AND id % 11 = 5)"),
    "q205_lsh_judge_store" -> lshJudgeSql(
      "SELECT doc_id AS id, text FROM documents",
      "SELECT doc_id + 100000 AS id, regexp_replace(text, '^\\S+\\s+', '') AS text" +
        " FROM documents WHERE doc_id % 3 = 0",
      "s.id < 100000 AND d.id >= 100000"),
    "q206_band_index_merge" -> lshJudgeSql(
      "SELECT doc_id AS id, text FROM documents" +
        " UNION ALL SELECT doc_id + 100000, regexp_replace(text, '^\\S+\\s+', '')" +
        " FROM documents WHERE doc_id % 3 = 0",
      "SELECT doc_id + 200000 AS id, regexp_replace(text, '^\\S+\\s+\\S+\\s+', '') AS text" +
        " FROM documents WHERE doc_id % 5 = 0",
      "s.id < 200000 AND d.id >= 200000"),
    // the streaming RESIDUAL ingest (gate in StreamingQueries) lands
    // the store in exactly q213's state — batching, per-batch residual
    // sidecar appends, and compaction are content-invariant
    "q215_stream_residual_ingest" ->
      SelectionQueries.pqResidualAppendOracle,
    // the streaming ingest loop (gate in StreamingQueries) must land
    // the store in exactly q206's state — micro-batched judge → sig
    // merge → index merge is content-invariant
    "q212_stream_lsh_ingest" -> lshJudgeSql(
      "SELECT doc_id AS id, text FROM documents" +
        " UNION ALL SELECT doc_id + 100000, regexp_replace(text, '^\\S+\\s+', '')" +
        " FROM documents WHERE doc_id % 3 = 0",
      "SELECT doc_id + 200000 AS id, regexp_replace(text, '^\\S+\\s+\\S+\\s+', '') AS text" +
        " FROM documents WHERE doc_id % 5 = 0",
      "s.id < 200000 AND d.id >= 200000"),
    // the exactly-once text loop (gate in StreamingQueries): the
    // versioned store with ledger-acked batches AND a redelivered
    // batch 0 must land in exactly q212's (= q206's) judged state
    "q224_stream_text_exactly_once" -> lshJudgeSql(
      "SELECT doc_id AS id, text FROM documents" +
        " UNION ALL SELECT doc_id + 100000, regexp_replace(text, '^\\S+\\s+', '')" +
        " FROM documents WHERE doc_id % 3 = 0",
      "SELECT doc_id + 200000 AS id, regexp_replace(text, '^\\S+\\s+\\S+\\s+', '') AS text" +
        " FROM documents WHERE doc_id % 5 = 0",
      "s.id < 200000 AND d.id >= 200000"),
    // q230: the same loop on the UNIFIED protocol (one txn per
    // micro-batch, namespaced-ledger redelivery skip) must land in the
    // identical judged state — same replay
    "q230_stream_unified_txn" -> lshJudgeSql(
      "SELECT doc_id AS id, text FROM documents" +
        " UNION ALL SELECT doc_id + 100000, regexp_replace(text, '^\\S+\\s+', '')" +
        " FROM documents WHERE doc_id % 3 = 0",
      "SELECT doc_id + 200000 AS id, regexp_replace(text, '^\\S+\\s+\\S+\\s+', '') AS text" +
        " FROM documents WHERE doc_id % 5 = 0",
      "s.id < 200000 AND d.id >= 200000"),
    // the repaired index must equal the banding of the post-merge
    // signatures exactly — minhash(union of shingles) = MIN-merge of
    // the two ingests' signatures, so one replay covers both
    "q211_band_index_reindex" ->
      s"""WITH ${minhashSigCtes(
             "SELECT doc_id AS id, text FROM documents" +
               " UNION ALL SELECT doc_id, 'zzz qqq xyz ' || text" +
               " FROM documents WHERE doc_id % 3 = 0")},
        |bs AS (
        |  SELECT id, k // 2 AS band,
        |    list_reduce(list_prepend(CAST(k // 2 AS BIGINT),
        |        list(mh ORDER BY k)),
        |      (acc, v) -> (acc * 1000003 + v) % 2147483647) AS bsig
        |  FROM sigs GROUP BY id, k // 2)
        |SELECT id AS doc_id, band, bsig FROM bs
        |ORDER BY doc_id, band, bsig""".stripMargin,
    // the versioned-manifest store must judge exactly as the legacy
    // one: q206's flow plus a forget of the original standing's
    // sevenths (delta1's shifted ids are exempt — the forget targets
    // ids < 100000 only)
    "q220_versioned_store" -> lshJudgeSql(
      "SELECT doc_id AS id, text FROM documents" +
        " UNION ALL SELECT doc_id + 100000, regexp_replace(text, '^\\S+\\s+', '')" +
        " FROM documents WHERE doc_id % 3 = 0",
      "SELECT doc_id + 200000 AS id, regexp_replace(text, '^\\S+\\s+\\S+\\s+', '') AS text" +
        " FROM documents WHERE doc_id % 5 = 0",
      "s.id < 200000 AND d.id >= 200000 AND (s.id >= 100000 OR s.id % 7 <> 3)"),
    // the signature-store change feed: inserts = delta1's shifted ids,
    // deletes = the forgotten sevenths, updates = ONLY the re-ingested
    // docs whose MIN-merged signature actually differs from the
    // original (both signature sets recomputed closed-form; the union
    // corpus IS the MIN-merge — minhash(shingles(a) ∪ shingles(b)) =
    // min(sig(a), sig(b)) per permutation)
    "q226_sig_store_cdc" ->
      s"""WITH ${minhashSigCtes(
             "SELECT doc_id AS id, text FROM documents WHERE doc_id % 11 = 4" +
               " UNION ALL SELECT doc_id, 'zzz qqq xyz ' || text" +
               " FROM documents WHERE doc_id % 11 = 4")},
        |${minhashSigCtes(
             "SELECT doc_id AS id, text FROM documents WHERE doc_id % 11 = 4",
             "o")}
        |SELECT 'delete' AS change, doc_id FROM documents WHERE doc_id % 7 = 3
        |UNION ALL
        |SELECT 'insert' AS change, doc_id + 100000 AS doc_id
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT 'update' AS change, id AS doc_id FROM (
        |  SELECT s.id FROM sigs s JOIN sigso o ON s.id = o.id AND s.k = o.k
        |  WHERE s.id % 7 <> 3
        |  GROUP BY s.id
        |  HAVING sum(CASE WHEN s.mh <> o.mh THEN 1 ELSE 0 END) > 0) u
        |ORDER BY change, doc_id""".stripMargin,
    // the pinned-version judgment: delta2 judged AS OF the pre-delta1
    // version must see the ORIGINAL standing corpus only — the oracle
    // is the plain standing-vs-delta2 judge replay, with delta1 absent
    "q227_judgment_replay" -> lshJudgeSql(
      "SELECT doc_id AS id, text FROM documents",
      "SELECT doc_id + 200000 AS id, regexp_replace(text, '^\\S+\\s+\\S+\\s+', '') AS text" +
        " FROM documents WHERE doc_id % 5 = 0",
      "s.id < 100000 AND d.id >= 200000"),
    // forgotten standing docs can no longer be partners
    "q207_band_index_forget" -> lshJudgeSql(
      "SELECT doc_id AS id, text FROM documents",
      "SELECT doc_id + 100000 AS id, regexp_replace(text, '^\\S+\\s+', '') AS text" +
        " FROM documents WHERE doc_id % 3 = 0",
      "s.id < 100000 AND d.id >= 100000 AND s.id % 7 <> 3"),
    "q110_session_window" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, us,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g)
        |SELECT user_id, min(ts) AS sess_start, CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, sess_start""".stripMargin,
  )

  /** Shared by q88/q109/q196/q197: the full SQL recomputation of the
    * portable minhash signatures over the whole documents table;
    * `cond` restricts the emitted docs (q197's forget). */
  private def minhashSigsSql: String = minhashSigsSqlCond("TRUE")

  /** The portable minhash replay as CTEs norm/sh/hx/sigs over an
    * arbitrary (id, text) corpus — shared by the signature-store gates
    * (whole-table corpus) and the band-index gates (standing ∪ delta
    * corpora with disjoint id ranges). */
  /** @param sfx CTE-name suffix so TWO signature replays (e.g. q226's
    *             old-vs-merged diff) can coexist in one oracle. */
  private def minhashSigCtes(corpusSql: String, sfx: String = ""): String =
      s"""norm$sfx AS (
        |  SELECT id,
        |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
        |  FROM ($corpusSql)),
        |sh$sfx AS (
        |  SELECT DISTINCT id, sh FROM (
        |    SELECT id, unnest(list_transform(
        |      generate_series(0, greatest(len(toks) - 3, 0)),
        |      i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
        |    FROM norm$sfx) t WHERE length(sh) > 0),
        |hx$sfx AS (
        |  SELECT id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, length(sh)),
        |                     i -> CAST(ascii(substr(sh, i, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 2147483647) AS x
        |  FROM sh$sfx),
        |sigs$sfx AS (
        |  SELECT id, CAST(k AS BIGINT) AS k,
        |    CAST(min((x * a + b) % 2147483647) AS BIGINT) AS mh
        |  FROM hx$sfx, (VALUES $minhashCoefRows) AS coef(k, a, b)
        |  GROUP BY id, k)""".stripMargin

  private def minhashSigsSqlCond(cond: String): String =
      s"""WITH ${minhashSigCtes("SELECT doc_id AS id, text FROM documents")}
        |SELECT id AS doc_id, k, mh
        |FROM sigs
        |WHERE $cond
        |ORDER BY doc_id, k""".stripMargin

  /** Band-index judge replay: signatures (3-gram polyHash minhash) over
    * standing ∪ delta, the polynomial band fold, the exact candidate
    * set (standing × delta colliding in ≥1 band, both sides of
    * `pairCond`), and distinct-shingle-hash Jaccard verdicts — every
    * stage bit-replayable, including the banding itself. */
  private def lshJudgeSql(standingSql: String, deltaSql: String,
                          pairCond: String): String =
      s"""WITH ${minhashSigCtes(s"$standingSql UNION ALL $deltaSql")},
        |bs AS (
        |  SELECT id, k // 2 AS band,
        |    list_reduce(list_prepend(CAST(k // 2 AS BIGINT),
        |        list(mh ORDER BY k)),
        |      (acc, v) -> (acc * 1000003 + v) % 2147483647) AS bsig
        |  FROM sigs GROUP BY id, k // 2),
        |cand AS (
        |  SELECT DISTINCT s.id AS id_a, d.id AS id_b
        |  FROM bs s JOIN bs d ON s.band = d.band AND s.bsig = d.bsig
        |  WHERE $pairCond),
        |xs AS (SELECT DISTINCT id, x FROM hx),
        |sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n
        |          FROM xs GROUP BY id),
        |common AS (
        |  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS common
        |  FROM cand c
        |  JOIN xs a ON a.id = c.id_a
        |  JOIN xs b ON b.id = c.id_b AND b.x = a.x
        |  GROUP BY c.id_a, c.id_b)
        |SELECT id_a, id_b,
        |  CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.id = id_a
        |JOIN sizes sb ON sb.id = id_b
        |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin

  private val oraclesB: Map[String, String] = Map(
    "q89_bool_retrieval" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |m AS (SELECT doc_id, term FROM toks
        |      WHERE term IN ('join', 'filter', 'stream'))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS total_tf
        |FROM m GROUP BY doc_id
        |HAVING count(DISTINCT term) = 3
        |ORDER BY doc_id""".stripMargin,
    "q90_outliers" ->
      """WITH s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sd_sum,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |         AS DOUBLE) AS sd_sq
        |  FROM events GROUP BY event_type),
        |st AS (
        |  SELECT event_type, n_events,
        |    sd_sum / n_events AS mean,
        |    sqrt(sd_sq / n_events - (sd_sum / n_events) * (sd_sum / n_events)) AS sd
        |  FROM s),
        |o AS (
        |  SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_outliers
        |  FROM events e JOIN st ON e.event_type = st.event_type
        |  WHERE abs(CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) - st.mean)
        |        > 3.0 * st.sd
        |  GROUP BY e.event_type)
        |SELECT st.event_type, st.n_events, st.mean, st.sd,
        |  CAST(coalesce(o.n_outliers, 0) AS BIGINT) AS n_outliers
        |FROM st LEFT JOIN o ON st.event_type = o.event_type
        |ORDER BY st.event_type""".stripMargin,
    "q94_grouped_corr" ->
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS xc,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xc) AS BIGINT) AS sxc, CAST(sum(yc) AS BIGINT) AS syc,
        |    CAST(sum((xc * yc) // 1048576) AS BIGINT) AS xyh,
        |    CAST(sum((xc * yc) % 1048576) AS BIGINT) AS xyl,
        |    CAST(sum((xc * xc) // 1048576) AS BIGINT) AS xxh,
        |    CAST(sum((xc * xc) % 1048576) AS BIGINT) AS xxl,
        |    CAST(sum((yc * yc) // 1048576) AS BIGINT) AS yyh,
        |    CAST(sum((yc * yc) % 1048576) AS BIGINT) AS yyl
        |  FROM c GROUP BY l_returnflag),
        |d AS (
        |  SELECT l_returnflag, n,
        |    CAST(sxc AS DOUBLE) / 100.0 AS sx,
        |    CAST(syc AS DOUBLE) / 100.0 AS sy,
        |    (CAST(xyh AS DOUBLE) * 1048576.0 + CAST(xyl AS DOUBLE)) / 10000.0 AS sxy,
        |    (CAST(xxh AS DOUBLE) * 1048576.0 + CAST(xxl AS DOUBLE)) / 10000.0 AS sxx,
        |    (CAST(yyh AS DOUBLE) * 1048576.0 + CAST(yyl AS DOUBLE)) / 10000.0 AS syy
        |  FROM m)
        |SELECT l_returnflag, n,
        |  round((n * sxy - sx * sy) /
        |        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 12) AS corr
        |FROM d
        |ORDER BY l_returnflag""".stripMargin,
    "q95_cooccur_lift" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id AS id, t FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |    FROM documents)),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |nx AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY t),
        |p AS (
        |  SELECT a.t AS tok_a, b.t AS tok_b, CAST(count(*) AS BIGINT) AS n_xy
        |  FROM toks a JOIN toks b ON a.id = b.id AND a.t < b.t
        |  GROUP BY a.t, b.t
        |  HAVING count(*) >= 50)
        |SELECT p.tok_a, p.tok_b, p.n_xy,
        |  CAST((1000000 * p.n_xy * nd.n_docs) // (x.n * y.n) AS BIGINT) AS lift_ppm
        |FROM p
        |JOIN nx x ON x.t = p.tok_a
        |JOIN nx y ON y.t = p.tok_b
        |CROSS JOIN nd
        |ORDER BY lift_ppm DESC, tok_a, tok_b
        |LIMIT 20""".stripMargin,
    "q96_session_paths" ->
      """WITH g AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, event_type, us,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g),
        |p AS (
        |  SELECT user_id, sess,
        |    string_agg(event_type, '->' ORDER BY us, event_id) AS path
        |  FROM s GROUP BY user_id, sess)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path
        |LIMIT 15""".stripMargin,
    "q97_json_extract" ->
      """WITH j AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type,
        |  CAST(count(k) AS BIGINT) AS n_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
        |FROM j GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q98_window_dedup" ->
      """WITH g AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts, event_id) AS prev_us
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN prev_us IS NOT NULL AND us - prev_us <= 60000000
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_redelivered
        |FROM g GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q99_gap_fill" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(DATE '1995-03-01', DATE '1995-03-31',
        |                                INTERVAL 1 DAY))::DATE AS day),
        |daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-03-01'
        |    AND o_orderdate < TIMESTAMP '1995-04-01'
        |    AND o_orderkey % 16 = 0
        |  GROUP BY CAST(o_orderdate AS DATE))
        |SELECT s.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n_orders
        |FROM spine s LEFT JOIN daily d ON s.day = d.day
        |ORDER BY s.day""".stripMargin,
    "q100_integrity" ->
      """SELECT 'lineitem->orders' AS edge, CAST(count(*) AS BIGINT) AS n_orphans
        |FROM lineitem l WHERE NOT EXISTS
        |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'orders->customer', CAST(count(*) AS BIGINT)
        |FROM orders o WHERE NOT EXISTS
        |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'customer->nation', CAST(count(*) AS BIGINT)
        |FROM customer c WHERE NOT EXISTS
        |  (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        |UNION ALL
        |SELECT 'lineitem->part', CAST(count(*) AS BIGINT)
        |FROM lineitem l WHERE NOT EXISTS
        |  (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        |UNION ALL
        |SELECT 'lineitem->supplier', CAST(count(*) AS BIGINT)
        |FROM lineitem l WHERE NOT EXISTS
        |  (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
        |ORDER BY edge""".stripMargin,
    "q101_running_totals" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(count(*) OVER w AS BIGINT) AS cum_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS cum_spend
        |FROM orders
        |WHERE o_custkey % 64 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS UNBOUNDED PRECEDING)
        |ORDER BY o_custkey, cum_orders""".stripMargin,
    "q102_rank_norm" ->
      """SELECT doc_id, lang, n_chars,
        |  percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |    AS len_pctl,
        |  percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |    >= 0.9 AS top_decile
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q103_embed_coverage" ->
      """SELECT 'docs_without_embedding' AS check, CAST(count(*) AS BIGINT) AS n
        |FROM documents d WHERE NOT EXISTS
        |  (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
        |UNION ALL
        |SELECT 'embeddings_without_doc', CAST(count(*) AS BIGINT)
        |FROM embeddings e WHERE NOT EXISTS
        |  (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)
        |UNION ALL
        |SELECT 'matched', CAST(count(*) AS BIGINT)
        |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |ORDER BY "check"""".stripMargin,
    "q104_cube" ->
      """SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS wd,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY CUBE (event_type, CAST(dayofweek(ts) + 1 AS BIGINT))
        |ORDER BY event_type NULLS FIRST, wd NULLS FIRST""".stripMargin,
    "q105_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'view'),
        |m AS (
        |  SELECT p.event_id, p.user_id, p.us,
        |    (SELECT max(v.us) FROM v
        |     WHERE v.user_id = p.user_id AND v.us <= p.us) AS vus
        |  FROM p)
        |SELECT m.event_id, m.user_id,
        |  (SELECT max(v.event_id) FROM v
        |   WHERE v.user_id = m.user_id AND v.us = m.vus) AS view_event_id,
        |  m.us - m.vus AS age_us,
        |  (m.vus IS NOT NULL AND m.us - m.vus <= 604800000000) AS within_7d
        |FROM m
        |ORDER BY m.event_id""".stripMargin,
    "q106_train_order" ->
      """SELECT doc_id, ((doc_id % 2147483647) * 2654435761) % 4294967296 AS h
        |FROM documents
        |ORDER BY h, doc_id
        |LIMIT 50""".stripMargin,
    "q107_lang_drift" ->
      """WITH a AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_a
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY lang),
        |b AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_b
        |  FROM documents WHERE doc_id % 2 = 1 GROUP BY lang),
        |t AS (SELECT (SELECT CAST(sum(n_a) AS BIGINT) FROM a) AS t_a,
        |             (SELECT CAST(sum(n_b) AS BIGINT) FROM b) AS t_b)
        |SELECT coalesce(a.lang, b.lang) AS lang,
        |  coalesce(a.n_a, 0) AS n_a, coalesce(b.n_b, 0) AS n_b,
        |  (1000000 * coalesce(a.n_a, 0)) // t.t_a AS share_a_ppm,
        |  (1000000 * coalesce(b.n_b, 0)) // t.t_b AS share_b_ppm,
        |  (1000000 * coalesce(b.n_b, 0)) // t.t_b
        |    - (1000000 * coalesce(a.n_a, 0)) // t.t_a AS drift_ppm
        |FROM a FULL JOIN b ON a.lang = b.lang CROSS JOIN t
        |ORDER BY lang""".stripMargin,
    "q108_dup_rate" ->
      """WITH f AS (
        |  SELECT source,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
        |  CAST((1000000 * (count(*) - count(DISTINCT fp))) // count(*)
        |       AS BIGINT) AS dup_ppm
        |FROM f GROUP BY source
        |ORDER BY source""".stripMargin,
    "q111_chunk_conserve" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST((n_tokens + 31) // 32 AS BIGINT) AS n_chunks,
        |  n_tokens AS sum_chunk_tokens
        |FROM n
        |ORDER BY doc_id""".stripMargin,
  )

  val oracles: Map[String, String] = oraclesA ++ oraclesB
}
