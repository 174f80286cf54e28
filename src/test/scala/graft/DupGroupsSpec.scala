package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Connected-component group resolution over near-dup pairs: multi-hop
  * chains collapse to one group, singletons stand alone, the minimum id
  * is the canonical representative. */
class DupGroupsSpec extends SparkSpec {
  import spark.implicits._

  test("selectCanonical keeps the preferred doc per group, ties by id") {
    import org.apache.spark.sql.functions.{col, length}
    val corpus = Seq(
      (1L, "short"), (2L, "the longest text here"), (3L, "medium text"),
      (4L, "solo"), (7L, "same"), (8L, "same")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val groups = Dedup.dupGroups(corpus, "doc_id", pairs)
    val kept = Dedup.selectCanonical(corpus, "doc_id", groups, length(col("text")))
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    // group {1,2,3}: longest = 2; {4}: itself; {7,8}: equal length → lowest id 7
    assert(kept == Seq(2L, 4L, 7L))
  }

  test("selectCanonical keeps a caller's own rank column") {
    val corpus = Seq((1L, "short", 30L), (2L, "the longest text here", 10L),
      (4L, "solo", 20L)).toDF("doc_id", "text", "rank")
    val groups = Dedup.dupGroups(corpus, "doc_id",
      Seq((1L, 2L)).toDF("id_a", "id_b"))
    val kept = Dedup.selectCanonical(corpus, "doc_id", groups,
        length(col("text")))
    assert(kept.columns.toSeq == Seq("doc_id", "text", "rank"))
    assert(kept.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(2)))
      .toSeq == Seq((2L, 10L), (4L, 20L)))
  }

  test("chains merge transitively; singletons self-group") {
    val corpus = (1L to 8L).toDF("doc_id").withColumn("text", lit("x"))
    // pairs: 1-2, 2-3 (chain), 7-8; 4,5,6 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val got = Dedup.dupGroups(corpus, "doc_id", pairs).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (4L, 4L, 1L, true), (5L, 5L, 1L, true), (6L, 6L, 1L, true),
      (7L, 7L, 2L, true), (8L, 7L, 2L, false)))
  }

  test("long chain needs multiple propagation rounds") {
    // path 10-11-12-...-17: diameter 7 → several iterations, one group
    val n = 8
    val corpus = (10L until 10L + n).toDF("doc_id").withColumn("text", lit("x"))
    val pairs = (10L until 10L + n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dupGroups(corpus, "doc_id", pairs)
    assert(got.filter(col("group_id") === 10L).count() == n)
    assert(got.filter(col("is_canonical")).count() == 1)
  }

  test("diameter beyond the iteration cap converges via pointer jumping") {
    // 60-node path: diameter 59 > maxIterations 20 — plain propagation
    // would exit the loop unconverged (and must now throw, not silently
    // mislabel); pointer jumping halves chains each round so the default
    // cap suffices
    val n = 60
    val corpus = (1L to n).toDF("doc_id").withColumn("text", lit("x"))
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dupGroups(corpus, "doc_id", pairs)
    assert(got.filter(col("group_id") === 1L).count() == n)
    assert(got.filter(col("is_canonical")).count() == 1)
  }

  test("non-convergence at the cap fails loudly instead of mislabeling") {
    val n = 16
    val corpus = (1L to n).toDF("doc_id").withColumn("text", lit("x"))
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.dupGroups(corpus, "doc_id", pairs, maxIterations = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("scoped pair generators release their caches on close/use") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g z"), (3L, "q r s t u v w x"))
      .toDF("doc_id", "text")
    val h = Dedup.ngramJaccardPairsScoped(docs, "doc_id", "text", 3, 0.1)
    h.df.count() // materializes the shingle cache
    assert(h.isCached, "pair generation did not register its cache")
    h.close()
    assert(!h.isCached, "close() left the shingle cache behind")
    // borrow form: released even though the consumer returns a new plan
    val h2 = Dedup.minhashLshPairsScoped(docs, "doc_id", "text", 3, 16, 4, 0.1)
    h2.use(_.count())
    assert(!h2.isCached, "use() left the signature cache behind")
  }
}
