package graft

import graft.operators.{Dedup, Layout, Sketches, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The q81-q84 operator family: CMS frequency sketch, incremental
  * novelty, bigram LM fluency, shard manifest. */
class ScaleOpsSpec extends SparkSpec {

  test("cms estimate upper-bounds the exact count and is exact when sparse") {
    import spark.implicits._
    // 20 keys, key k appears k+1 times
    val rows = (0 until 20).flatMap(k => Seq.fill(k + 1)(k.toLong))
    val df = rows.toDF("k")
    val sketch = Sketches.cmsSketch(df, "k", depth = 4, width = 256)
    val exact = df.groupBy(col("k")).agg(count(lit(1)).as("exact"))
    val got = Sketches.cmsEstimate(exact, sketch, "k", depth = 4, width = 256)
      .select(col("k"), col("cms_est"), col("exact")).collect()
    got.foreach { r =>
      val (k, e, x) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(e >= x, s"estimate below exact for key $k")
    }
    // 20 keys in 4x256 counters: collisions are vanishingly unlikely with
    // these fixed coefficients — and the test pins that they don't occur
    got.foreach { r => assert(r.getLong(1) == r.getLong(2),
      s"key ${r.getLong(0)}: est ${r.getLong(1)} != exact ${r.getLong(2)}") }
  }

  test("cms estimate reports 0 for keys the sketch never saw") {
    import spark.implicits._
    // a narrow sketch (width 4) built from ONE key leaves most buckets
    // empty; a probe key hashing to any empty bucket must report 0 and
    // must not vanish from the output
    val sketch = Sketches.cmsSketch(Seq.fill(5)(1L).toDF("k"), "k", 4, 4)
    val probes = (0L until 50L).toDF("k").withColumn("tag", lit("p"))
    val got = Sketches.cmsEstimate(probes, sketch, "k", 4, 4).collect()
    assert(got.length == 50, "every probe row must survive the estimate join")
    val unseen = got.filter(_.getLong(0) != 1L).map(_.getLong(1))
    assert(unseen.contains(0L),
      "with width 4, some unseen key must hit an empty bucket and report 0")
    assert(got.find(_.getLong(0) == 1L).get.getLong(1) >= 5L)
  }

  test("cms sketches merge: sketch(a ++ b) == merge(sketch(a), sketch(b))") {
    import spark.implicits._
    val a = (0 until 50).map(i => (i % 7).toLong).toDF("k")
    val b = (0 until 30).map(i => (i % 5).toLong).toDF("k")
    val whole = Sketches.cmsSketch(a.union(b), "k", 4, 64)
    val merged = Sketches.cmsSketch(a, "k", 4, 64)
      .union(Sketches.cmsSketch(b, "k", 4, 64))
      .groupBy(col("depth"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
    assert(whole.except(merged).isEmpty && merged.except(whole).isEmpty)
  }

  test("noveltyScore flags exact dups and scores line overlap") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "delta\nepsilon")).toDF("id", "text")
    val batch = Seq(
      (10L, "alpha\nbeta\ngamma"),   // exact dup of doc 1
      (11L, "alpha\nzeta"),          // 1 of 2 lines seen
      (12L, "new\nlines\nonly")      // fully novel
    ).toDF("id", "text")
    val got = Dedup.noveltyScore(corpus, batch, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(10L) == ((true, 3L, 3L, 0.0)))
    assert(got(11L) == ((false, 2L, 1L, 0.5)))
    assert(got(12L) == ((false, 3L, 0L, 1.0)))
  }

  test("noveltyScore scores NULL-text and empty-string batch rows") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha\nbeta")).toDF("id", "text")
    val batch = Seq(
      (20L, null.asInstanceOf[String]), // no line rows at all
      (21L, ""),                        // split("") = [""] -> 1 unseen line
      (22L, "alpha")                    // 1 of 1 lines seen
    ).toDF("id", "text")
    val got = Dedup.noveltyScore(corpus, batch, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got.keySet == Set(20L, 21L, 22L), "every batch row must be scored")
    assert(got(20L) == ((false, 0L, 0L, None)))
    assert(got(21L) == ((false, 1L, 0L, Some(1.0))))
    assert(got(22L) == ((false, 1L, 1L, Some(0.0))))
  }

  test("bigramFluency matches a hand computation") {
    import spark.implicits._
    // corpus: "abab" and "abba". bigrams: ab,ba,ab | ab,bb,ba
    // counts: ab->3, ba->2, bb->1; prefixes: a->3, b->3
    // credits ppm: ab = 1000000*3/3 = 1000000; ba = 666666; bb = 333333
    val df = Seq((1L, "abab"), (2L, "abba"), (3L, "")).toDF("id", "text")
    val got = TextOps.bigramFluency(df, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got(1L)._1 == 3L)
    assert(got(1L)._2.contains((1000000.0 + 666666.0 + 1000000.0) / 3))
    assert(got(2L)._1 == 3L)
    assert(got(2L)._2.contains((1000000.0 + 333333.0 + 666666.0) / 3))
    assert(got(3L) == ((0L, None)))
  }

  test("semDedup prunes lower-id near-dups within clusters only") {
    import spark.implicits._
    import graft.operators.Similarity
    // two well-separated centroids on the first axis
    val cents = Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0))
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),    // cluster 0
      (2L, Array(2.0f, 0.0f)),    // cluster 0, cos=1 with id 1 -> dropped
      (3L, Array(0.9f, 0.5f)),    // cluster 0, cos ~0.87 -> kept
      (4L, Array(-1.0f, 0.0f)),   // cluster 1
      (5L, Array(-3.0f, 0.0f))    // cluster 1, cos=1 with id 4 -> dropped
    ).toDF("id", "v")
    val got = Similarity.semDedup(vecs, "id", "v", cents, minCos = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == Map(
      1L -> (0L, true), 2L -> (0L, false), 3L -> (0L, true),
      4L -> (1L, true), 5L -> (1L, false)))
  }

  test("minhash signature store merges by per-(doc,k) MIN") {
    import spark.implicits._
    // the same doc split across two loads: merged signatures must equal
    // the whole-doc signatures (shingles are doc-level, so emulate the
    // merge law on two docs sharing an id after re-keying)
    val a = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("id", "t")
    val b = Seq((1L, "pack my box with five dozen liquor jugs")).toDF("id", "t")
    val whole = Dedup.minhashSignatures(
      Seq((1L, "the quick brown fox jumps over the lazy dog"),
          (1L, "pack my box with five dozen liquor jugs")).toDF("id", "t"),
      "id", "t")
    val merged = Dedup.minhashSignatures(a, "id", "t")
      .union(Dedup.minhashSignatures(b, "id", "t"))
      .groupBy(col("id"), col("k")).agg(min(col("mh")).as("mh"))
    assert(whole.except(merged).isEmpty && merged.except(whole).isEmpty)
    // rows that add no shingles leave an id's signature as it was: a
    // second row with empty text, and an exact repeat of a row; an id
    // whose only row is empty has no signature rows at all
    val fox = "the quick brown fox jumps over the lazy dog"
    def sigRows(rows: Seq[(Long, String)]) =
      Dedup.minhashSignatures(rows.toDF("id", "t"), "id", "t")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    val once = sigRows(Seq((2L, fox)))
    assert(once.size == 16)
    assert(sigRows(Seq((2L, fox), (2L, ""))) == once)
    assert(sigRows(Seq((2L, fox), (2L, fox))) == once)
    assert(sigRows(Seq((3L, ""))).isEmpty)
    assert(sigRows(Seq((2L, fox), (3L, ""))) == once)
  }

  test("minhashLshPairs emits the pinned q21-shaped pair rows") {
    import spark.implicits._
    // q21's shape: each doc plus a copy without its first word (id +
    // 100000), 5-shingles, 32 hashes in 8 bands of 4, threshold 0.5.
    // Edited copies (id + 200000) swap 1-4 words, so their Jaccard to
    // the original spans the threshold and banding recall is partial:
    // the rows below are the banded output, not the exact pair set
    val vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa" +
      " lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi" +
      " omega red green blue cyan magenta yellow black white").split(" ")
    val rnd = new scala.util.Random(11)
    val base = (1L to 16L).map(i =>
      i -> Seq.fill(60)(vocab(rnd.nextInt(vocab.length))))
    val docs = base.flatMap { case (i, ws) =>
      val swaps = (0 until (i % 4).toInt + 1).map(j => 7 + j * 14)
      Seq(i -> ws.mkString(" "),
        (i + 100000L) -> ws.tail.mkString(" "),
        (i + 200000L) -> ws.zipWithIndex.map { case (w, j) =>
          if (swaps.contains(j)) "zzz" + j else w }.mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 5, numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(got == q21Pinned)
  }

  // the output of the murmur band law this function used before it
  // banded through the store's polynomial fold: the edited copies of
  // docs 1 (0.70) and 10 (0.58) share no band with their originals,
  // those of docs 3/7/11/15 fall below 0.5
  private val q21Pinned = Seq(
    (1L, 100001L, 0.9821428571428571), (2L, 100002L, 0.9821428571428571),
    (2L, 200002L, 0.5774647887323944), (3L, 100003L, 0.9821428571428571),
    (4L, 100004L, 0.9821428571428571), (4L, 200004L, 0.8360655737704918),
    (5L, 100005L, 0.9821428571428571), (5L, 200005L, 0.696969696969697),
    (6L, 100006L, 0.9821428571428571), (6L, 200006L, 0.5774647887323944),
    (7L, 100007L, 0.9821428571428571), (8L, 100008L, 0.9821428571428571),
    (8L, 200008L, 0.8360655737704918), (9L, 100009L, 0.9821428571428571),
    (9L, 200009L, 0.696969696969697), (10L, 100010L, 0.9821428571428571),
    (11L, 100011L, 0.9821428571428571), (12L, 100012L, 0.9821428571428571),
    (12L, 200012L, 0.8360655737704918), (13L, 100013L, 0.9821428571428571),
    (13L, 200013L, 0.696969696969697), (14L, 100014L, 0.9821428571428571),
    (14L, 200014L, 0.5774647887323944), (15L, 100015L, 0.9821428571428571),
    (16L, 100016L, 0.9821428571428571), (16L, 200016L, 0.8360655737704918),
    (100002L, 200002L, 0.5633802816901409),
    (100004L, 200004L, 0.819672131147541),
    (100005L, 200005L, 0.6818181818181818),
    (100006L, 200006L, 0.5633802816901409),
    (100008L, 200008L, 0.819672131147541),
    (100009L, 200009L, 0.6818181818181818),
    (100012L, 200012L, 0.819672131147541),
    (100013L, 200013L, 0.6818181818181818),
    (100014L, 200014L, 0.5633802816901409),
    (100016L, 200016L, 0.819672131147541))

  test("funnelCounts enforces order and the max gap") {
    import spark.implicits._
    import graft.operators.Events
    import java.sql.Timestamp
    def ts(m: Long) = new Timestamp(m * 60000L)
    val ev = Seq(
      // user 1: full chain inside the gap
      (1L, ts(0), "view"), (1L, ts(10), "click"), (1L, ts(20), "purchase"),
      // user 2: click BEFORE view -> funnel stops after view
      (2L, ts(10), "view"), (2L, ts(5), "click"),
      // user 3: click too late (> 30 min gap)
      (3L, ts(0), "view"), (3L, ts(40), "click"),
      // user 4: never viewed
      (4L, ts(0), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = Events.funnelCounts(ev, "user_id", "ts",
        Seq("view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")),
        maxGapMicros = 30L * 60L * 1000000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, "view", 3L), (2L, "click", 1L), (3L, "purchase", 1L)))
  }

  test("windowDedupFlags marks only repeats inside the window") {
    import spark.implicits._
    import graft.operators.Events
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      (1L, 10L, ts(0), "click"),   // first -> kept
      (1L, 11L, ts(30), "click"),  // within 60s -> redelivery
      (1L, 12L, ts(100), "click"), // 70s after previous -> kept
      (1L, 13L, ts(110), "view"),  // different key -> kept
      (2L, 14L, ts(120), "click")  // different user -> kept
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = Events.windowDedupFlags(ev, "ts", "event_id",
        Seq("user_id", "event_type"), windowMicros = 60L * 1000000L)
      .collect().map(r => r.getLong(1) -> r.getBoolean(4)).toMap
    assert(got == Map(10L -> false, 11L -> true, 12L -> false,
      13L -> false, 14L -> false))
  }

  test("sessionPaths folds ordered per-session event types") {
    import spark.implicits._
    import graft.operators.Events
    import java.sql.Timestamp
    def ts(m: Long) = new Timestamp(m * 60000L)
    val ev = Seq(
      // user 1 session 1: view -> click;  session 2 (gap > 30m): view
      (1L, 1L, ts(0), "view"), (1L, 2L, ts(5), "click"), (1L, 3L, ts(60), "view"),
      // user 2: one session view -> click (same path as user 1 s1)
      (2L, 4L, ts(0), "view"), (2L, 5L, ts(10), "click")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = Events.sessionPaths(ev, "user_id", "ts", "event_id",
        "event_type", gapMicros = 30L * 60L * 1000000L, topK = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("view->click", 2L), ("view", 1L)))
  }

  test("retention buckets users by first-activity day") {
    import spark.implicits._
    import graft.operators.Events
    import java.sql.Timestamp
    def ts(d: Int) = new Timestamp(d * 86400000L)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(1)), (1L, ts(9)),   // cohort day0, offsets 0,1 (9 capped)
      (2L, ts(0)), (2L, ts(1)),                // cohort day0, offsets 0,1
      (3L, ts(1))                              // cohort day1, offset 0
    ).toDF("user_id", "ts")
    val got = Events.retention(ev, "user_id", "ts", 7)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      ("1970-01-01", 0L, 2L), ("1970-01-01", 1L, 2L), ("1970-01-02", 0L, 1L)))
  }

  test("booleanAnd requires every term; outlierStats counts exact z-outliers") {
    import spark.implicits._
    import graft.operators.{Profile, Retrieval}
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta"), (3L, "beta alpha alpha gamma")
    ).toDF("doc_id", "text")
    val hits = Retrieval.booleanAnd(docs, "doc_id", "text",
        Seq("alpha", "gamma"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 2L, 3L -> 3L))

    // 10 values at 1.0 and one far outlier
    val ev = (Seq.fill(10)(1.0) :+ 100.0).zipWithIndex
      .map { case (v, i) => ("a", v) }.toDF("g", "v")
    val st = Profile.outlierStats(ev, "g", "v", k = 3.0).collect().head
    assert(st.getLong(1) == 11L)
    assert(st.getLong(4) == 1L, "the single extreme value is the only outlier")
  }

  test("knuthHash stays in [0, 2^32) for keys beyond 2^31 (no Long wrap)") {
    import spark.implicits._
    // pre-fix, key * 2654435761 wrapped Long for keys >= ~3.47e9 and
    // pmod of the wrapped product diverged from the oracle's BIGINT math
    val big = Seq(0L, 1L, 3470000000L, Long.MaxValue / 2, Long.MaxValue)
      .toDF("doc_id")
    val got = big.select(col("doc_id"),
        Layout.knuthHash(col("doc_id")).as("h")).collect()
    got.foreach { r =>
      val (k, h) = (r.getLong(0), r.getLong(1))
      assert(h >= 0L && h < 4294967296L, s"key $k hashed out of range: $h")
      val expect = ((k % 2147483647L) * 2654435761L) % 4294967296L
      assert(h == expect, s"key $k: $h != replayable-SQL value $expect")
    }
  }

  test("shardManifest covers every doc exactly once and is deterministic") {
    import spark.implicits._
    val docs = (0L until 100L)
      .map(i => (i, s"w$i " * (i % 5 + 1).toInt, if (i % 2 == 0) "en" else "de", i % 10))
      .toDF("doc_id", "text", "lang", "n_chars")
    val m = Layout.shardManifest(docs, "doc_id", "text", "lang", "n_chars", 4)
      .collect()
    assert(m.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(m.map(_.getLong(1)).sum == 100L)                     // n_docs
    assert(m.map(_.getLong(2)).sum == (0L until 100L).map(_ % 10).sum)
    // stable under repartition
    val m2 = Layout.shardManifest(docs.repartition(7), "doc_id", "text",
      "lang", "n_chars", 4).collect()
    assert(m.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq)
  }
}
