package graft

import graft.operators.{Fixtures, Similarity}
import org.apache.spark.sql.functions._

/** TRAINED OPQ rotation ([[Similarity.trainOpqRotation]] +
  * `writePqSidecar(opqIters > 0)`): the alternating-minimization
  * alternative to the structured Walsh–Hadamard rotation, measured
  * against it by OpqProbe at sf10 and kept behind the `opqIters` knob.
  * The specs pin the properties the production path depends on:
  * orthogonality (ADC in rotated space estimates original distances),
  * determinism, the matrix riding IN pq_meta (it versions and pins
  * with the codes), flavor auto-detection on append and search, and a
  * zero-quantization-error exactness anchor for the whole rotated
  * search path. */
class OpqSpec extends SparkSpec {
  import spark.implicits._

  // two separated blobs (stable k=2 coarse training) with per-dim
  // anisotropy so a trained rotation has structure to exploit
  private def corpus() = (0 until 40).map { i =>
    val base = if (i % 2 == 0) 0.0 else 10.0
    (i.toLong, Seq.tabulate(4)(d =>
      (base + 0.5 + (i % 5) * 0.1 * (d + 1) + (i % 7) * 0.01).toFloat))
  }.toDF("vec_id", "embedding")

  private def assigned(df: org.apache.spark.sql.DataFrame,
                       cents: Seq[Seq[Double]]) = df
    .withColumn("cluster",
      Similarity.assignCluster(col("embedding"), cents).cast("long"))
    .withColumn("nrm", Similarity.norm(col("embedding")))

  private def sampleRows(): Array[Array[Double]] =
    corpus().orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)

  test("trainOpqRotation returns an orthogonal, deterministic matrix") {
    val r = Similarity.trainOpqRotation(sampleRows(), m = 2, dsub = 2,
      ksub = 4, iters = 3)
    assert(r.size == 4 && r.forall(_.size == 4))
    // R·Rᵀ = I within numerical noise — the property that makes ADC in
    // rotated space estimate original-space L2
    for (i <- 0 until 4; j <- 0 until 4) {
      val dot = (0 until 4).map(k => r(i)(k) * r(j)(k)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"RRt($i,$j) = $dot")
    }
    // deterministic: same sample, same seed, same matrix
    val r2 = Similarity.trainOpqRotation(sampleRows(), m = 2, dsub = 2,
      ksub = 4, iters = 3)
    assert(r == r2)
  }

  test("matRotate matches a driver-side matmul bit-exactly") {
    val r = Similarity.trainOpqRotation(sampleRows(), m = 2, dsub = 2,
      ksub = 4, iters = 2)
    val got = Similarity.matRotate(corpus(), "embedding", "rot", r)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Double](2).toArray)
    val want = sampleRows().map(v =>
      Array.tabulate(4)(i =>
        (0 until 4).map(j => r(i)(j) * v(j)).sum))
    got.zip(want).foreach { case (g, w) =>
      g.zip(w).foreach { case (a, b) => assert(a == b, s"$a != $b") }
    }
  }

  test("OPQ sidecar: matrix rides in pq_meta, search and append auto-apply it, exactness at zero quantization error") {
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding",
      2, 2)
    val path = Fixtures.tempDir("graft-opq-").resolve("s").toString
    Similarity.writeStandingStore(assigned(corpus(), cents), path,
      "cluster", buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    // ksub = 40 ≥ distinct subvectors per subspace ⇒ the PQ codebooks
    // reproduce every rotated subvector exactly ⇒ ADC distances are the
    // TRUE squared L2 distances (R orthogonal) ⇒ the rotated search
    // must return exactly the brute-force neighbor sets
    Similarity.writePqSidecar(spark, path, "vec_id", "embedding",
      m = 2, dsub = 2, ksub = 40, rotate = true, opqIters = 3)
    val meta = graft.operators.StoreSwap.readDir(spark, path, "pq_meta", "part")
    assert(meta.columns.contains("opq_rotation"))
    assert(meta.head.getAs[Boolean]("rotated"))
    val storedR = meta.head.getAs[scala.collection.Seq[
      scala.collection.Seq[Double]]]("opq_rotation")
    assert(storedR.size == 4 && storedR.forall(_.size == 4))
    val queries = corpus().filter(col("vec_id") < 6)
    def ids(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    // exact SQUARED-L2 top-3 (ADC's metric; bruteForceTopK ranks by
    // cosine, a different order on unnormalized vectors), self
    // excluded and (dist, id) tie-broken exactly like pqTopKStore
    val exact = {
      val rows = corpus().orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
      rows.filter(_._1 < 6).flatMap { case (q, qv) =>
        rows.filter(_._1 != q)
          .map { case (n, nv) =>
            (q, n, qv.zip(nv).map { case (a, b) =>
              (a - b) * (a - b) }.sum)
          }
          .sortBy { case (_, n, d) => (d, n) }.take(3)
      }.map { case (q, n, _) => (q, n) }.toSeq
    }
    val viaOpq = ids(Similarity.pqTopKStore(spark, path, queries,
      "vec_id", "embedding", m = 2, dsub = 2, k = 3, nProbe = 2))
    assert(viaOpq == exact,
      "rotated ADC at zero quantization error diverged from brute force")
    // flavor travels with the sidecar: an appended exact duplicate of
    // vec 0 (new id) must be encoded through the SAME trained matrix —
    // at zero quantization error its ADC distance to vec 0's query is
    // 0, so it must surface as the top neighbor
    val reloaded = Similarity.readCodebook(spark, path)
    val dup = assigned(corpus().filter(col("vec_id") === 0L)
      .select(lit(1000L).as("vec_id"), col("embedding")), reloaded)
    Similarity.appendToStandingStore(
      dup.select(col("vec_id"), col("embedding"), col("cluster"),
        col("nrm")), path, "cluster")
    Similarity.appendPqCodes(spark, path, dup, "vec_id", "embedding",
      m = 2, dsub = 2)
    val after = ids(Similarity.pqTopKStore(spark, path,
      corpus().filter(col("vec_id") === 0L), "vec_id", "embedding",
      m = 2, dsub = 2, k = 1, nProbe = 2))
    assert(after == Seq((0L, 1000L)),
      s"appended duplicate not served through the trained rotation: $after")
  }

  test("a WH-rotated sidecar is unaffected (no opq_rotation column, flavor detection unchanged)") {
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding",
      2, 2)
    val path = Fixtures.tempDir("graft-opq-").resolve("wh").toString
    Similarity.writeStandingStore(assigned(corpus(), cents), path,
      "cluster", buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    Similarity.writePqSidecar(spark, path, "vec_id", "embedding",
      m = 2, dsub = 2, ksub = 4, rotate = true)
    assert(!graft.operators.StoreSwap.readDir(spark, path, "pq_meta", "part").columns
      .contains("opq_rotation"))
    assert(Similarity.pqTopKStore(spark, path,
      corpus().filter(col("vec_id") < 3), "vec_id", "embedding",
      m = 2, dsub = 2, k = 3, nProbe = 2).count() == 9)
  }
}
