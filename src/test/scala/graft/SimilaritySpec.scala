package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** ANN trainer path: k-means codebook recovery and the trained IVF probe
  * agreeing with brute force on cluster-separated data. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // two well-separated blobs around (0,0,…) and (10,10,…)
  private def blobs() = {
    val rows = (0 until 20).map { i =>
      val base = if (i % 2 == 0) 0.0 else 10.0
      (i.toLong, Seq.tabulate(4)(d => (base + (i % 5) * 0.1 + d * 0.01).toFloat))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("trainCentroids recovers separated clusters deterministically") {
    val df = blobs()
    val cents = Similarity.trainCentroids(df, "vec_id", "embedding", k = 2, iters = 4)
    assert(cents.length == 2)
    // one centroid near 0, one near 10 (order fixed by deterministic init)
    val means = cents.map(_.sum / 4)
    assert(means.exists(m => m < 1.0) && means.exists(m => m > 9.0))
    // deterministic: retraining yields the identical codebook
    assert(cents == Similarity.trainCentroids(df, "vec_id", "embedding", 2, 4))
  }

  test("seedFarthestFirst spreads seeds across blobs, deterministically") {
    val df = blobs()
    val seeds = Similarity.seedFarthestFirst(df, "vec_id", "embedding", k = 2)
    val means = seeds.map(_.sum / 4)
    // first seed = lowest id (blob 0); second = farthest point (blob 1)
    assert(means.head < 1.0 && means(1) > 9.0)
    assert(seeds == Similarity.seedFarthestFirst(df, "vec_id", "embedding", 2))
    // ++-seeded training converges to the same separated codebook
    val cents = Similarity.trainCentroids(df, "vec_id", "embedding", k = 2,
      iters = 4, init = Some(seeds))
    val cmeans = cents.map(_.sum / 4)
    assert(cmeans.exists(_ < 1.0) && cmeans.exists(_ > 9.0))
  }

  test("embedNearDupPairs finds exactly the scaled twins, never all-pairs") {
    val df = blobs()
    // twins of the even ids, scaled ×2: same direction, cos ≈ 1
    val twins = df.filter(col("vec_id") % 2 === 0)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"), v => v * lit(2.0f)).as("embedding"))
    val pairs = Similarity.embedNearDupPairs(df.unionByName(twins),
        "vec_id", "embedding", dim = 4, bands = 4, bitsPerBand = 4,
        minCos = 0.999999)
      .orderBy("id_a", "id_b").collect()
    // every twin pair recovered (scale-invariant buckets ⇒ recall 1)
    val twinPairs = pairs.map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => b == a + 1000 }
    assert(twinPairs.toSeq == (0 until 20 by 2).map(i => (i.toLong, i + 1000L)))
    // every emitted pair really clears the threshold (precision by verify)
    assert(pairs.forall(_.getDouble(2) >= 0.999999))
    // and the blob data itself has near-parallel in-blob vectors the LSH may
    // surface — but nothing across blobs below the threshold
    assert(pairs.forall(r => r.getDouble(2) <= 1.0 + 1e-12))
  }

  test("multi-probe IVF: nProbe=nlist equals brute force; nProbe=1 equals single-probe") {
    val df = blobs()
    val queries = df.filter(col("vec_id") < 2)
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("query_id", "rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // full probing degenerates to exact brute force
    assert(pairs(Similarity.ivfTopKMultiProbe(queries, df, "vec_id", "embedding",
        k = 3, nlist = 2, nProbe = 2, iters = 4)) ==
      pairs(Similarity.bruteForceTopK(queries, df, "vec_id", "embedding", k = 3)))
    // single probe matches the single-probe trained path
    assert(pairs(Similarity.ivfTopKMultiProbe(queries, df, "vec_id", "embedding",
        k = 3, nlist = 2, nProbe = 1, iters = 4)) ==
      pairs(Similarity.ivfTopKTrained(queries, df, "vec_id", "embedding",
        k = 3, nlist = 2, iters = 4)))
  }

  test("ivfTopKTrained matches brute force within the query's blob") {
    val df = blobs()
    val queries = df.filter(col("vec_id") < 2)
    val got = Similarity.ivfTopKTrained(queries, df, "vec_id", "embedding",
        k = 3, nlist = 2, iters = 4)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // brute force restricted to the same blob (even ids ↔ blob 0, odd ↔ blob 1)
    val expected = Similarity.bruteForceTopK(queries, df, "vec_id", "embedding", k = 20)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (q, n) => (q % 2) == (n % 2) } // same blob only
      .groupBy(_._1).view.mapValues(_.take(3)).values.flatten.toSet
    assert(got.length == 6) // 2 queries × 3 neighbors
    assert(got.forall(expected.contains))
  }

  test("semDedupAuto sizes the codebook to the corpus and drops exact twins") {
    // angularly separated vectors: dominant one-hot axis + a small
    // id-dependent perturbation, so distinct vectors stay below cos
    // 0.9999 while exact twins hit cos 1
    val base = (0 until 20).map { i =>
      val v = Array.fill(8)(0.0f)
      v(i % 8) = 1.0f
      v((i + 3) % 8) += 0.05f + 0.01f * i
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    // exact twins of the even ids, shifted ids — cosine 1, same assignment
    val twins = base.filter(col("vec_id") % 2 === 0)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(twins) // 30 vectors
    // targetClusterSize 10 → k = 3
    val out = Similarity.semDedupAuto(corpus, "vec_id", "embedding",
      minCos = 0.999999, targetClusterSize = 10)
    assert(out.select(countDistinct(col("cluster"))).head().getLong(0) <= 3)
    val dropped = out.filter(!col("keep")).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    // every twin (higher id of its cosine-1 pair) is dropped; nothing else
    // reaches cosine ≥ .999999
    assert(dropped == (0 until 20 by 2).map(_ + 1000L).toSet)
    // deterministic: same result on a re-run
    val again = Similarity.semDedupAuto(corpus, "vec_id", "embedding",
      minCos = 0.999999, targetClusterSize = 10)
      .filter(!col("keep")).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again == dropped)
  }

  test("semDedupAutoSampled: full sample ≡ auto; half sample still catches twins") {
    val base = (0 until 20).map { i =>
      val v = Array.fill(8)(0.0f)
      v(i % 8) = 1.0f
      v((i + 3) % 8) += 0.05f + 0.01f * i
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val twins = base.filter(col("vec_id") % 2 === 0)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(twins)
    def keyOf(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    // degenerate sample (everything) reduces exactly to the auto path
    assert(keyOf(Similarity.semDedupAutoSampled(corpus, "vec_id", "embedding",
        0.999999, trainSample = lit(true), targetClusterSize = 10)) ==
      keyOf(Similarity.semDedupAuto(corpus, "vec_id", "embedding",
        0.999999, targetClusterSize = 10)))
    // half-sample training: clusters may differ, but cosine-1 twins land
    // with their originals under ANY codebook → still all dropped
    val dropped = Similarity.semDedupAutoSampled(corpus, "vec_id",
        "embedding", 0.999999, trainSample = col("vec_id") % 2 === 0,
        targetClusterSize = 10)
      .filter(!col("keep")).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(dropped == (0 until 20 by 2).map(_ + 1000L).toSet)
  }

  test("semDedupTwoLevel: separated blobs match the flat path; twins dropped") {
    val base = (0 until 20).map { i =>
      val v = Array.fill(8)(0.0f)
      v(i % 8) = 1.0f
      v((i + 3) % 8) += 0.05f + 0.01f * i
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val twins = base.filter(col("vec_id") % 2 === 0)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(twins)
    val cents = Similarity.trainCentroids(corpus, "vec_id", "embedding",
      k = 3, iters = 2)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(2))).toSeq
    // on one-hot-separated blobs the super ladder cannot misroute:
    // keep decisions equal the flat assignment's exactly
    assert(rows(Similarity.semDedupTwoLevel(corpus, "vec_id", "embedding",
        cents, 0.999999)) ==
      rows(Similarity.semDedup(corpus, "vec_id", "embedding",
        cents, 0.999999)))
    // superQuantize drops childless supers and partitions the codebook
    val (supers, children) = Similarity.superQuantize(cents)
    assert(supers.length == children.length && children.forall(_.nonEmpty))
    assert(children.flatMap(_.map(_._1)).sorted == cents.indices.map(_.toLong))
  }

  test("seedFarthestFirst: materialized running min is checkpoint-invariant") {
    val df = blobs()
    // the checkpoint cadence is a pure lineage-truncation choice — every
    // cadence must yield bit-identical seeds (least is an exact fold)
    val every16 = Similarity.seedFarthestFirst(df, "vec_id", "embedding", k = 5)
    val every1 = Similarity.seedFarthestFirst(df, "vec_id", "embedding",
      k = 5, checkpointEvery = 1)
    val every2 = Similarity.seedFarthestFirst(df, "vec_id", "embedding",
      k = 5, checkpointEvery = 2)
    assert(every16 == every1 && every16 == every2)
    assert(every16.length == 5 && every16.distinct.length == 5)
  }

  test("ivfTopKTwoLevelProbe: full super probing equals brute force on separated blobs") {
    val df = blobs()
    val queries = df.filter(col("vec_id") < 2)
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // nlist=2 → 2 supers; probing both supers and both children scans
    // everything, so the ladder must reproduce exact brute force
    assert(pairs(Similarity.ivfTopKTwoLevelProbe(queries, df, "vec_id",
        "embedding", k = 3, nlist = 2, sProbe = 2, nProbe = 2, iters = 4)) ==
      pairs(Similarity.bruteForceTopK(queries, df, "vec_id", "embedding", k = 3)))
    // deterministic under repartitioning
    assert(pairs(Similarity.ivfTopKTwoLevelProbe(queries, df.repartition(7),
        "vec_id", "embedding", k = 3, nlist = 2, sProbe = 2, nProbe = 2,
        iters = 4)) ==
      pairs(Similarity.ivfTopKTwoLevelProbe(queries, df, "vec_id",
        "embedding", k = 3, nlist = 2, sProbe = 2, nProbe = 2, iters = 4)))
  }

  test("codebookDrift: identical codebooks are perfectly stable; a refit splits coherently") {
    val df = blobs()
    val cents = Similarity.trainCentroids(df, "vec_id", "embedding", k = 2,
      iters = 4)
    val same = Similarity.codebookDrift(df, "vec_id", "embedding",
      cents, cents).collect()
    assert(same.length == 2)
    assert(same.forall(r => r.getLong(2) == 1L)) // n_new_clusters
    assert(same.forall(r => r.getLong(4) == 1000000L)) // stable_ppm
    // a finer retrain may split a standing cluster, but membership is
    // conserved: blocks sum to the cluster size, modal block is a block
    val finer = Similarity.trainCentroids(df, "vec_id", "embedding", k = 4,
      iters = 4)
    val drift = Similarity.codebookDrift(df, "vec_id", "embedding",
      cents, finer).collect()
    assert(drift.map(_.getLong(1)).sum == 20L) // all vectors accounted
    assert(drift.forall(r => r.getLong(3) <= r.getLong(1)))
    assert(drift.forall(r => r.getLong(4) >= 1000000L / r.getLong(2)))
  }

  test("semDedupIncrementalPrepped: prune-invariant and equal to the convenience form") {
    val base = blobs()
    val twins = base.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"), v => v * lit(2.0f)).as("embedding"))
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding",
      k = 2, iters = 4)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val convenience = rows(Similarity.semDedupIncremental(base, twins,
      "vec_id", "embedding", cents, minCos = 0.999))
    val assigned = base
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), cents).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val deltaAssigned = twins
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), cents).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val prepped = rows(Similarity.semDedupIncrementalPrepped(assigned,
      deltaAssigned, "vec_id", "embedding", "cluster", "nrm", "cluster",
      "nrm", minCos = 0.999))
    val pruned = rows(Similarity.semDedupIncrementalPrepped(assigned,
      deltaAssigned, "vec_id", "embedding", "cluster", "nrm", "cluster",
      "nrm", minCos = 0.999, pruneBaseByDeltaClusters = true))
    assert(prepped == convenience && pruned == prepped)
    // every twin is a direction-duplicate of a same-cluster base vector
    assert(prepped.nonEmpty && prepped.forall(!_._3))
  }

  test("refitDriftedClusters: empty drift keeps assignment; refit re-buckets only drifted members") {
    val df = blobs()
    val cents = Similarity.trainCentroids(df, "vec_id", "embedding", k = 2,
      iters = 4)
    def asg(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(r.fieldIndex("cluster")))).toSeq
    // no drift → merged codebook IS the standing codebook
    val untouched = asg(Similarity.refitDriftedClusters(df, "vec_id",
      "embedding", cents, Set.empty))
    val standingAsg = asg(df.withColumn("cluster",
      Similarity.assignCluster(col("embedding"), cents).cast("long")))
    assert(untouched == standingAsg)
    // drift cluster 1 → cluster 0's id and membership survive verbatim;
    // former cluster-1 members land in refit ids >= 1 (one survivor)
    val refit = asg(Similarity.refitDriftedClusters(df, "vec_id",
      "embedding", cents, Set(1L), targetClusterSize = 5))
    val zero = standingAsg.filter(_._2 == 0L).map(_._1).toSet
    assert(refit.filter(r => zero(r._1)).forall(_._2 == 0L))
    assert(refit.filterNot(r => zero(r._1)).forall(_._2 >= 1L))
  }

  test("quantizeInt8 is exact on the closed form and bounds reconstruction") {
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),   // zero vector → zero scale
      (3L, Seq(-2.0f, 1.0f, 0.5f, -0.25f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df, "embedding")
      .select("vec_id", "q_scale", "q_vec").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2))).sortBy(_._1)
    assert(q(0) == ((1L, 1.0, Seq(127, -63, 32, 0))))  // floor(±x·127+0.5)
    assert(q(1) == ((2L, 0.0, Seq(0, 0, 0, 0))))
    assert(q(2) == ((3L, 2.0, Seq(-127, 64, 32, -16)))) // floor(-15.875+0.5)
    // reconstruction error ≤ scale/254 + float-cast noise
    val errs = Similarity.quantizeInt8(df, "embedding")
      .select(col("q_scale"),
        array_max(zip_with(col("embedding"), col("q_vec"), (v, qq) =>
          abs(v.cast("double") - qq.cast("double") * col("q_scale") / lit(127d)))))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    errs.foreach { case (m, e) => assert(e <= m / 254 + 1e-9, s"err $e scale $m") }
  }

  test("whtRotate: matches the reference transform bit-exactly and preserves distances") {
    val vecs = Map(
      0L -> Array.tabulate(8)(d => (d + 1).toDouble),
      1L -> Array.tabulate(8)(d => (8 - d) * 0.5),
      2L -> Array.tabulate(8)(d => if (d < 2) 3.0 else 0.01 * d))
    val df = vecs.toSeq.map { case (id, v) => (id, v.map(_.toFloat).toSeq) }
      .toDF("vec_id", "embedding")
    val got = Similarity.whtRotate(df, "embedding", "r", 8)
      .select("vec_id", "r").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // reference: sign flips (LCG bit) + 3 butterfly stages, same op order
    def ref(v: Array[Double]): Array[Double] = {
      var cur = Array.tabulate(8)(i =>
        if ((((i.toLong * 1103515245L + 12345L) >> 16) & 1L) == 0L)
          v(i).toFloat.toDouble else -v(i).toFloat.toDouble)
      var h = 1
      while (h < 8) {
        cur = Array.tabulate(8)(i =>
          if ((i & h) == 0) (cur(i) + cur(i + h)) * 0.7071067811865476
          else (cur(i - h) - cur(i)) * 0.7071067811865476)
        h <<= 1
      }
      cur
    }
    vecs.foreach { case (id, v) =>
      assert(got(id).toSeq == ref(v).toSeq, s"vec $id")
    }
    // orthogonality: pairwise squared distances preserved to rounding
    def sqd(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (i <- vecs.keys; j <- vecs.keys if i < j) {
      val before = sqd(vecs(i).map(_.toFloat.toDouble), vecs(j).map(_.toFloat.toDouble))
      val after = sqd(got(i), got(j))
      assert(math.abs(before - after) <= 1e-9 * math.max(1.0, before),
        s"distance drift $i-$j: $before vs $after")
    }
  }

  test("every cosine top-k entry is one kernel") {
    val df = blobs()
    val queries = df.filter(col("vec_id") < 2)
    val k = 4
    // a standing store over the same corpus, flat-assigned to the
    // nlist = 2 codebook; probing both clusters reads all of it
    val cents = Similarity.trainCentroids(df, "vec_id", "embedding", 2, 4)
    val path = graft.operators.Fixtures.tempDir("graft-topk-")
      .resolve("s").toString
    Similarity.writeStandingStore(df
        .withColumn("cluster",
          Similarity.assignCluster(col("embedding"), cents).cast("long"))
        .withColumn("nrm", Similarity.norm(col("embedding"))),
      path, "cluster", buckets = 4)
    Similarity.writeCodebook(spark, path, cents)
    val brute = Similarity.bruteForceTopK(queries, df, "vec_id",
      "embedding", k)
    val complete = Seq(
      "ivfTopK, one constant cluster" -> Similarity.ivfTopK(
        queries.withColumn("c", lit(0)), df.withColumn("c", lit(0)),
        "vec_id", "embedding", "c", k),
      "ivfTopKMultiProbe, nProbe = nlist" -> Similarity.ivfTopKMultiProbe(
        queries, df, "vec_id", "embedding", k, nlist = 2, nProbe = 2,
        iters = 4),
      "ivfTopKTwoLevelProbe, every super" -> Similarity.ivfTopKTwoLevelProbe(
        queries, df, "vec_id", "embedding", k, nlist = 2, sProbe = 2,
        nProbe = 2, iters = 4),
      "ivfTopKStore, full probing" -> Similarity.ivfTopKStore(spark, path,
        queries, "vec_id", "embedding", k, nProbe = 2),
      "ivfTopKStoreTwoLevel, full probing" -> Similarity.ivfTopKStoreTwoLevel(
        spark, path, queries, "vec_id", "embedding", k, sProbe = 2,
        nProbe = 2))
    val lsh = Similarity.lshTopK(queries, df, "vec_id", "embedding",
      dim = 4, numBits = 2, k = k)
    def cols(d: org.apache.spark.sql.DataFrame) =
      d.schema.map(f => (f.name, f.dataType))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSeq
    // one output contract for all seven entries
    assert(cols(brute) == Seq("query_id" -> LongType,
      "neighbor_id" -> LongType, "cos" -> DoubleType, "rank" -> LongType))
    (complete.map(_._2) :+ lsh).foreach(d => assert(cols(d) == cols(brute)))
    // a complete candidate set makes every generator exact
    val want = rows(brute)
    assert(want.length == 2 * k)
    complete.foreach { case (name, d) => assert(rows(d) == want, name) }
    // blobs() repeats every vector ten ids later, so the brute-force
    // ranking holds equal-cos neighbors: they rank by neighbor_id
    val ties = want.sliding(2).collect {
      case Seq(a, b) if a._1 == b._1 && a._3 == b._3 => (a, b)
    }.toSeq
    assert(ties.nonEmpty, "fixture has no tied neighbors")
    ties.foreach { case (a, b) => assert(a._2 < b._2 && a._4 + 1 == b._4) }
    // k < 1 is the kernel's named error, not an empty result
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(queries, df, "vec_id", "embedding", 0)
    }
    assert(e.getMessage.contains("k must be >= 1, got 0"), e.getMessage)
  }

  test("lshTopK and embedNearDupPairs name a bit or band count below 1") {
    val df = blobs()
    def msg(body: => Any) = intercept[IllegalArgumentException](body).getMessage
    assert(msg(Similarity.lshTopK(df, df, "vec_id", "embedding", dim = 4,
      numBits = 0, k = 3)).contains("numBits must be >= 1, got 0"))
    assert(msg(Similarity.embedNearDupPairs(df, "vec_id", "embedding",
      dim = 4, bands = 0, bitsPerBand = 4, minCos = 0.9))
      .contains("bands must be >= 1, got 0"))
    assert(msg(Similarity.embedNearDupPairs(df, "vec_id", "embedding",
      dim = 4, bands = 4, bitsPerBand = 0, minCos = 0.9))
      .contains("bitsPerBand must be >= 1, got 0"))
  }
}
