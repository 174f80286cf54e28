package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Lineage.CutOps

/** Sparse lexical retrieval over the corpus: BM25-shaped scoring with a
  * RATIONAL idf — `(N − df + 0.5) / (df + 0.5)` instead of the textbook
  * `ln` of it — so every score is reachable with IEEE-754 `+ * /` alone
  * (each correctly rounded, hence bit-identical across engines; `ln` is
  * libm-dependent and would break cross-engine verification — same
  * reasoning as q42's idf ratio). Ranking is unaffected for single-term
  * queries and nearly indistinguishable for short ones; the point is the
  * retrieval SHAPE: inverted tf index, per-term weighting, deterministic
  * top-k.
  *
  * Score(q, d) = Σ_{t ∈ q ∩ d} idf(t) · (tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl))
  *
  * The per-(query, doc) term-score sum is order-canonicalized (sorted
  * values, left fold) so it is bit-exact regardless of partitioning —
  * the [[PipelineQueries.q43Centroids]] discipline. A production path
  * would use plain `sum` (partial-aggregated, no per-group buffer);
  * the fold buffers only the handful of MATCHED query terms per doc.
  *
  * Scale shape: tf/dl/df are partial-aggregated shuffles of the token
  * table; the query-term relation is broadcast; corpus stats ride one
  * single-row broadcast. No cartesian anywhere.
  */
object Retrieval {

  def bm25TopK(corpus: DataFrame, idCol: String, textCol: String,
               queryTerms: DataFrame, queryIdCol: String, termCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = corpus.select(col(idCol).as("doc_id"),
      explode(TextOps.tokens(col(textCol))).as("term"))
    // The tf relation (the inverted index) feeds the df aggregate, the
    // doc-length aggregate AND the match join; column pruning gives each
    // consumer a different subtree, so exchange reuse cannot deduplicate
    // them and the corpus tokenize+aggregate re-executes 3-4x (q148's
    // static plan: 14 scans, 0 reused exchanges). Plan-cut the index so
    // it computes once, and likewise the per-doc lengths (read by the
    // global stats AND the match join) — the standard build-the-index-
    // once step; both relations are corpus-bounded, far smaller than the
    // token stream. NOTE: with the default checkpoint cut under AQE the
    // index build runs at plan construction (the bench's `prepare`
    // phase), not in the timed action — see [[Lineage]]; judge changes
    // here on exec+prepare.
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .planCut
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).cast("long").as("dl"))
      .planCut
    val stats = dl.agg(count(lit(1)).cast("long").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).cast("long").as("df"))
    val q = queryTerms
      .select(col(queryIdCol).as("query_id"), col(termCol).as("term")).distinct()

    val matched = tf
      .join(broadcast(q), "term")
      .join(dfRel, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
    val s = termScore(col("tf"), col("df"), col("dl"),
      col("n_docs"), col("avgdl"), k1, b)
    val scored = matched.withColumn("s", s)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(
        aggregate(sort_array(collect_list(col("s"))), lit(0.0),
          (acc, x) => acc + x).as("score"),
        count(lit(1)).cast("long").as("n_terms"))
    OrderStats.topKPer(scored, col("query_id"), k)(
        col("score").desc, col("doc_id"))
      .select(col("query_id"), col("doc_id"), col("score"),
        col("n_terms"), col("rank"))
  }

  /** Boolean-AND retrieval: documents containing EVERY query term, with
    * the summed term frequency as a ranking hint. The term filter lands
    * before the only shuffle, so the aggregate sees query-term rows only
    * — never the full postings space; the all-terms condition is a
    * countDistinct against the (small, literal) term set rather than a
    * k-way self-join of postings lists. */
  def booleanAnd(corpus: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "need at least one term")
    corpus.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("__nt"),
        count(lit(1)).as("total_tf"))
      .filter(col("__nt") === terms.distinct.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** Positional PHRASE search without a positional-postings join: one
    * `posexplode` gives (doc, pos, token), and the m−1 following tokens
    * arrive by `lead` over the per-doc position order — so an m-token
    * phrase match is a FILTER on one windowed relation, not an (m−1)-way
    * self-join of postings lists. Returns (doc_id, n_matches, first_pos)
    * for docs containing the phrase.
    *
    * Scale shape: the window partitions by doc (positions are already
    * generated in order, the sort is within-doc), the phrase filter is a
    * projection, and the per-doc aggregate map-side-combines. A standing
    * deployment would persist the (doc, pos, token) relation once and
    * run every phrase query as filter+window over it. */
  def phraseSearch(corpus: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "need a phrase")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val positions = corpus.select(col(idCol).as("doc_id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
    val withNext = phrase.indices.tail.foldLeft(positions) { (d, i) =>
      d.withColumn(s"tok$i", lead(col("tok"), i).over(w))
    }
    val cond = phrase.indices.tail.foldLeft(col("tok") === phrase.head) {
      (c, i) => c && col(s"tok$i") === phrase(i)
    }
    withNext.filter(cond)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_matches"),
        min(col("pos")).cast("long").as("first_pos"))
  }

  /** The corpus's most frequent token trigram (ties → lexicographic) —
    * the self-contained phrase pick for the q144 gate: one windowed
    * trigram projection + one agg; only the single winning row reaches
    * the driver (bounded model state, like the k-means codebooks). */
  def topTrigram(corpus: DataFrame, idCol: String, textCol: String): Seq[String] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val top = corpus.select(col(idCol).as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .filter(col("t1").isNotNull && col("t2").isNotNull)
      .groupBy(col("tok"), col("t1"), col("t2"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"), col("t1"), col("t2"))
      .limit(1).collect()(0)
    Seq(top.getString(0), top.getString(1), top.getString(2))
  }

  /** One matched term's contribution — the exact expression tree the
    * oracle SQL mirrors parenthesis-for-parenthesis. */
  def termScore(tf: Column, df: Column, dl: Column, nDocs: Column,
                avgdl: Column, k1: Double, b: Double): Column = {
    val c1 = k1 + 1.0
    val c2 = 1.0 - b
    val idf = ((nDocs - df).cast("double") + lit(0.5)) /
      (df.cast("double") + lit(0.5))
    idf * ((tf.cast("double") * lit(c1)) /
      (tf.cast("double") + lit(k1) * (lit(c2) + lit(b) * (dl.cast("double") / avgdl))))
  }
}
