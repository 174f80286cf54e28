package graft

import graft.operators.{Fixtures, Similarity, StoreSwap}
import org.apache.spark.sql.functions._

/** Partitioned standing store (q187's machinery): bucket layout,
  * file-pruning plan shape, and verdict equality with the in-memory
  * incremental path. */
class StandingStoreSpec extends SparkSpec {
  import spark.implicits._

  // 40 vectors in two separated blobs, so k=2 training is stable
  private def corpus() = (0 until 40).map { i =>
    val base = if (i % 2 == 0) 0.0 else 10.0
    (i.toLong, Seq.tabulate(4)(d => (base + (i % 5) * 0.1 + d * 0.01).toFloat))
  }.toDF("vec_id", "embedding")

  private def assigned(df: org.apache.spark.sql.DataFrame,
                       cents: Seq[Seq[Double]]) = df
    .withColumn("cluster",
      Similarity.assignCluster(col("embedding"), cents).cast("long"))
    .withColumn("nrm", Similarity.norm(col("embedding")))

  test("store round-trip: bucket column derives from cluster, meta records buckets") {
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(corpus(), cents), path,
      "cluster", buckets = 8)
    val (df, buckets) = Similarity.readStandingStore(spark, path)
    assert(buckets == 8)
    // every row's partition value is cluster mod buckets
    assert(df.filter(col("c_bucket") =!=
      pmod(col("cluster"), lit(8L)).cast("int")).count() == 0)
    assert(df.count() == 40)
  }

  test("pruned read shows PartitionFilters on c_bucket and a cluster pushdown") {
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(corpus(), cents), path,
      "cluster", buckets = 8)
    val pruned = Similarity.readStandingStorePruned(spark, path, Seq(1L))
    val ps = pruned.queryExecution.executedPlan.toString
    assert(ps.contains("PartitionFilters: [") && ps.contains("c_bucket"),
      s"no partition pruning on c_bucket:\n$ps")
    // a 1-element IN folds to EqualTo; either form must reach the scan
    assert(ps.contains("PushedFilters: [") &&
      (ps.contains("In(cluster") || ps.contains("EqualTo(cluster")),
      s"cluster restriction not pushed to the scan:\n$ps")
    // only cluster-1 rows survive, and only bucket-1 files were readable
    assert(pruned.filter(col("cluster") =!= 1L).count() == 0)
  }

  test("versioned store: pruning survives the manifest-resolved read, across generations") {
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(
      assigned(corpus().filter(col("vec_id") < 20), cents), path,
      "cluster", buckets = 8)
    // a second generation, so the snapshot read unions per-gen scans
    Similarity.appendToStandingStore(
      assigned(corpus().filter(col("vec_id") >= 20), cents), path,
      "cluster")
    val pruned = Similarity.readStandingStorePruned(spark, path, Seq(1L))
    val ps = pruned.queryExecution.executedPlan.toString
    // the indirection through immutable gen dirs must not cost the
    // scan its partition pruning or its row-group pushdown — the
    // layout claim the store makes at 100 TB holds in BOTH protocols
    assert(ps.contains("PartitionFilters: [") && ps.contains("c_bucket"),
      s"no partition pruning through the versioned read:\n$ps")
    assert(ps.contains("PushedFilters: [") &&
      (ps.contains("In(cluster") || ps.contains("EqualTo(cluster")),
      s"cluster restriction not pushed through the versioned read:\n$ps")
    assert(pruned.filter(col("cluster") =!= 1L).count() == 0)
    assert(Similarity.readStandingStore(spark, path)._1.count() == 40)
  }

  /** Each live bucket of `dataDir` → the files of its generations.
    * Generations are immutable, so an unchanged listing proves the
    * bucket was not rewritten. */
  private def listFiles(path: String,
                        dataDir: String): Map[String, Seq[String]] =
    StoreSwap.snapshot(spark, path).entriesOf(dataDir).toSeq
      .collect { case (b, gens) if b.startsWith("c_bucket=") =>
        b -> gens.flatMap(g =>
          new java.io.File(s"$path/$dataDir.gens/g$g/$b").listFiles()
            .map(f => s"g$g/${f.getName}")).sorted
      }.toMap

  test("semanticJudgeStoreAt: pinned replay ignores post-pin members AND codebook") {
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("sj").toString
    Similarity.writeStandingStore(assigned(corpus(), cents), path,
      "cluster", buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    // a version that cannot pin codebook + members together — here v0,
    // committed before the codebook existed — is refused, never judged
    // against another version's model
    val delta = corpus().select((col("vec_id") + 1000L).as("vec_id"),
      col("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.semanticJudgeStoreAt(spark, path, delta, "vec_id",
        "embedding", 0, minCos = 0.99)
    }
    assert(ex.getMessage.contains("codebook"), ex.getMessage)
    spark.conf.set("graft.store.snapshotKeep", "8")
    try {
      val v0 = Similarity.standingStoreVersions(spark, path).last
      val live = Similarity.semDedupIncrementalAssigned(
          Similarity.readStandingStore(spark, path)._1, delta, "vec_id",
          "embedding", "cluster", "nrm", cents, minCos = 0.99)
        .orderBy("vec_id").collect().toSeq
      // post-pin: append exact copies (cos-1 partners for every delta
      // row) and commit a refit codebook — either leaking into the
      // pinned judgment flips verdicts
      Similarity.appendToStandingStore(
        assigned(corpus().select((col("vec_id") + 2000L).as("vec_id"),
          col("embedding")), cents), path, "cluster")
      Similarity.writeCodebook(spark, path,
        Similarity.trainCentroids(corpus(), "vec_id", "embedding", 4, 2))
      val liveAfter = Similarity.semDedupIncrementalAssigned(
          Similarity.readStandingStore(spark, path)._1, delta, "vec_id",
          "embedding", "cluster", "nrm",
          Similarity.readCodebook(spark, path), minCos = 0.99)
        .orderBy("vec_id").collect().toSeq
      assert(liveAfter != live,
        "mutations should change the live verdict (weak scenario)")
      val replay = Similarity.semanticJudgeStoreAt(spark, path, delta,
          "vec_id", "embedding", v0, minCos = 0.99)
        .orderBy("vec_id").collect().toSeq
      assert(replay == live,
        "pinned replay diverged from the verdict at that version")
      // the default (pruned) read and the full-store read are verdict-
      // equivalent: pruning drops only clusters absent from the delta,
      // which contribute no pairs — the invariance the default relies on
      val replayUnpruned = Similarity.semanticJudgeStoreAt(spark, path,
          delta, "vec_id", "embedding", v0, minCos = 0.99,
          pruneBaseByDeltaClusters = false)
        .orderBy("vec_id").collect().toSeq
      assert(replayUnpruned == replay,
        "pruned and unpruned pinned reads disagreed")
      // the codebook at v0 is the original; the latest is the refit
      assert(Similarity.readCodebookAt(spark, path, v0).size == 2)
      assert(StoreSwap.snapshot(spark, path, Some(Similarity.standingStoreVersions(spark, path).last))
        .read("codebook", "part").count() == 4)
    } finally spark.conf.unset("graft.store.snapshotKeep")
  }

  test("on a unified store the whole refit publishes as ONE version (reader-atomic)") {
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("ur").toString
    Similarity.writeStandingStore(assigned(corpus(), cents), path,
      "cluster", buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    val v0 = Similarity.standingStoreVersions(spark, path).last
    val fresh = Similarity.refitStoreDriftedClusters(spark, path,
      "vec_id", "embedding", drifted = Set(0L),
      targetClusterSize = 10, iters = 1)
    assert(fresh.nonEmpty)
    val v1 = Similarity.standingStoreVersions(spark, path).last
    // delete + append + codebook rewrite land in ONE manifest rename —
    // no reader can see the drifted members deleted but not re-appended
    assert(v1 == v0 + 1, s"unified refit took ${v1 - v0} commits")
    assert(Similarity.readStandingStore(spark, path)._1.count() == 40)
    val cb = Similarity.readCodebookIds(spark, path)
    assert(!cb.exists(_._1 == 0L), "drifted cid survived the refit")
    assert(fresh.forall(f => cb.exists(_._1 == f._1)),
      "fresh cids missing from the committed codebook")
    // the refit state is a normal version: time travel to v0 still
    // serves the pre-refit codebook
    assert(Similarity.readCodebookAt(spark, path, v0)
      .exists(_._1 == 0L))
    assert(StoreSwap.snapshot(spark, path, Some(v0)).read("data", "c_bucket")
      .count() == 40)
  }

  test("deleteFromStandingStore rewrites only touched buckets and flips verdicts") {
    val base = corpus()
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(base, cents), path,
      "cluster", buckets = 8)
    val before = listFiles(path, "data")
    // vec_id 0 lives in the blob-0 cluster; its scaled twin is the delta
    val twin = Seq((1000L,
        Seq.tabulate(4)(d => ((0 + 0 * 0.1 + d * 0.01) * 2.0).toFloat)))
      .toDF("vec_id", "embedding")
    val deltaAssigned = assigned(twin, cents).cache()
    // before the delete: the twin drops against same-cluster base rows
    val v0 = Similarity.semDedupIncrementalStore(spark, path, deltaAssigned,
      "vec_id", "embedding", "cluster", "nrm", 0.99).collect()
    assert(v0.length == 1 && !v0.head.getBoolean(2))
    // delete the ENTIRE blob-0 cluster's membership (all even ids)
    val doomed = base.filter(col("vec_id") % 2 === 0).select("vec_id")
    val n = Similarity.deleteFromStandingStore(spark, path, doomed, "vec_id")
    assert(n == 20)
    val after = listFiles(path, "data")
    // the two blobs are distinct clusters, so distinct buckets: the
    // surviving (odd-blob) bucket must keep its exact file listing
    val survivorBuckets = Similarity.readStandingStore(spark, path)._1
      .select("c_bucket").distinct()
      .collect().map(r => s"c_bucket=${r.getInt(0)}").toSet
    assert(survivorBuckets.nonEmpty)
    survivorBuckets.foreach(b => assert(after(b) == before(b),
      s"untouched bucket $b was rewritten"))
    // ids are gone
    assert(Similarity.readStandingStore(spark, path)._1
      .filter(col("vec_id") % 2 === 0).count() == 0)
    // and the twin's verdict flips to keep: its near-dups are gone
    val v1 = Similarity.semDedupIncrementalStore(spark, path, deltaAssigned,
      "vec_id", "embedding", "cluster", "nrm", 0.99).collect()
    assert(v1.length == 1 && v1.head.getBoolean(2))
  }

  test("deleting a bucket's every row drops its directory (no resurrection)") {
    val base = corpus()
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    // buckets = 1: everything lands in c_bucket=0; deleting all rows of
    // both clusters must remove the directory rather than keep stale files
    Similarity.writeStandingStore(assigned(base, cents), path,
      "cluster", buckets = 1)
    val n = Similarity.deleteFromStandingStore(spark, path,
      base.select("vec_id"), "vec_id")
    assert(n == 40)
    assert(listFiles(path, "data").isEmpty,
      "an emptied bucket stayed in the manifest")
  }

  test("compactStandingStore merges fragmented buckets, contents unchanged") {
    val base = corpus()
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(base, cents), path,
      "cluster", buckets = 8)
    // two appends into the even blob's cluster → its bucket fragments
    val extra1 = Seq((100L, Seq(0.05f, 0.06f, 0.07f, 0.08f)))
      .toDF("vec_id", "embedding")
    val extra2 = Seq((101L, Seq(0.15f, 0.16f, 0.17f, 0.18f)))
      .toDF("vec_id", "embedding")
    Similarity.appendToStandingStore(assigned(extra1, cents), path)
    Similarity.appendToStandingStore(assigned(extra2, cents), path)
    val before = listFiles(path, "data")
    val fragged = before.filter(_._2.count(_.contains("/part-")) > 1).keys
    assert(fragged.nonEmpty, s"appends did not fragment: $before")
    val want = Similarity.readStandingStore(spark, path)._1
      .orderBy("vec_id").collect().toSeq
    val compacted = Similarity.compactStandingStore(spark, path,
      maxFilesPerBucket = 1)
    assert(compacted.map(b => s"c_bucket=$b").toSet == fragged.toSet)
    val after = listFiles(path, "data")
    // fragmented buckets now hold exactly one data file
    fragged.foreach(b =>
      assert(after(b).count(_.contains("/part-")) == 1, s"$b: ${after(b)}"))
    // untouched buckets keep their listings; contents are unchanged
    (before.keySet -- fragged).foreach(b => assert(after(b) == before(b)))
    assert(Similarity.readStandingStore(spark, path)._1
      .orderBy("vec_id").collect().toSeq == want)
    // idempotent: nothing left to compact
    assert(Similarity.compactStandingStore(spark, path, 1).isEmpty)
  }

  test("ivfTopKStore reloads the codebook bit-exactly and matches in-memory IVF") {
    val base = corpus()
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(
      assigned(base, cents).drop("nrm")
        .withColumn("nrm", Similarity.norm(col("embedding"))),
      path, "cluster", buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    assert(Similarity.readCodebook(spark, path) == cents)
    val queries = base.filter(col("vec_id") < 4)
    val viaStore = Similarity.ivfTopKStore(spark, path, queries,
        "vec_id", "embedding", k = 3, nProbe = 1)
      .orderBy("query_id", "rank").collect()
    val inMemory = Similarity.ivfTopKMultiProbe(queries, base,
        "vec_id", "embedding", k = 3, nlist = 2, nProbe = 1, iters = 2)
      .orderBy("query_id", "rank").collect()
    assert(viaStore.toSeq == inMemory.toSeq)
  }

  test("refitStoreDriftedClusters: fresh ids, survivors' files untouched, codebook updated") {
    val base = corpus()
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(base, cents), path,
      "cluster", buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    val before = listFiles(path, "data")
    // which cluster holds the even blob? refit THAT one
    val evenCluster = assigned(base.filter(col("vec_id") === 0L), cents)
      .select("cluster").head.getLong(0)
    val fresh = Similarity.refitStoreDriftedClusters(spark, path,
      "vec_id", "embedding", Set(evenCluster), targetClusterSize = 10,
      iters = 2)
    // 20 members / target 10 => 2 fresh clusters, ids appended past max
    assert(fresh.map(_._1) == Seq(2L, 3L))
    val after = listFiles(path, "data")
    val survivorBucket = s"c_bucket=${1 - evenCluster}"
    assert(after(survivorBucket) == before(survivorBucket),
      "undrifted cluster's bucket was rewritten")
    val data = Similarity.readStandingStore(spark, path)._1
    // the drifted id is retired, never reused; all members re-homed
    assert(data.filter(col("cluster") === evenCluster).count() == 0)
    assert(data.filter(col("cluster") >= 2L).count() == 20)
    assert(data.count() == 40)
    // persisted codebook = survivor id + the two fresh ids
    val cb = Similarity.readCodebookIds(spark, path)
    assert(cb.map(_._1) == Seq(1 - evenCluster, 2L, 3L).sorted)
    // survivor centroid is bit-identical to the original
    assert(cb.toMap.apply(1 - evenCluster) == cents((1 - evenCluster).toInt))
    // sparse assignment law: ties and argmin against explicit ids
    val reassigned = data
      .withColumn("c2", Similarity.assignClusterIds(col("embedding"), cb))
      .filter(col("c2") =!= col("cluster")).count()
    assert(reassigned == 0, "store assignment disagrees with sparse argmin")
  }

  test("ivfTopKStoreTwoLevel matches the in-memory two-level probe search") {
    val base = corpus()
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding", 2, 2)
    val (supers, children) = Similarity.superQuantize(cents)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(
      base.withColumn("cluster",
          Similarity.assignClusterTwoLevel(col("embedding"), supers,
            children).cast("long"))
        .withColumn("nrm", Similarity.norm(col("embedding"))),
      path, "cluster", buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    val queries = base.filter(col("vec_id") < 4)
    val viaStore = Similarity.ivfTopKStoreTwoLevel(spark, path, queries,
        "vec_id", "embedding", k = 3, sProbe = 1, nProbe = 1)
      .orderBy("query_id", "rank").collect()
    val inMemory = Similarity.ivfTopKTwoLevelProbe(queries, base,
        "vec_id", "embedding", k = 3, nlist = 2, sProbe = 1, nProbe = 1,
        iters = 2)
      .orderBy("query_id", "rank").collect()
    assert(viaStore.toSeq == inMemory.toSeq)
  }

  test("verdicts through the partitioned store equal the in-memory prepped path") {
    val base = corpus()
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding", 2, 2)
    // delta: scaled twins of the even ids (dropped) + a far novelty (kept)
    val twins = base.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"), v => v * lit(2.0f)).as("embedding"))
    val novelty = Seq((2000L, Seq(100f, -100f, 100f, -100f)))
      .toDF("vec_id", "embedding")
    val delta = twins.unionByName(novelty)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(base, cents), path,
      "cluster", buckets = 8)
    val deltaAssigned = assigned(delta, cents).cache()
    val viaStore = Similarity.semDedupIncrementalStore(spark, path,
        deltaAssigned, "vec_id", "embedding", "cluster", "nrm", 0.99)
      .orderBy("vec_id").collect()
    val inMemory = Similarity.semDedupIncrementalPrepped(
        assigned(base, cents), deltaAssigned,
        "vec_id", "embedding", "cluster", "nrm", "cluster", "nrm", 0.99)
      .orderBy("vec_id").collect()
    assert(viaStore.toSeq == inMemory.toSeq)
    // the scaled twins drop, the novelty survives
    val keep = viaStore.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep(2000L))
    assert((0 until 40 by 4).forall(i => !keep(i + 1000L)))
  }

  test("delete with a PQ sidecar drops the ids' code rows; untouched code buckets keep listings") {
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(corpus(), cents), path,
      "cluster", buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    Similarity.writePqSidecar(spark, path, "vec_id", "embedding",
      m = 2, dsub = 2, ksub = 4)
    def codeList() = listFiles(path, "pq_codes")
    val before = codeList()
    // delete the even-id blob: its cluster's bucket is rewritten in the
    // sidecar too; the odd blob's code bucket must keep its exact files
    val n = Similarity.deleteFromStandingStore(spark, path,
      corpus().filter(col("vec_id") % 2 === 0).select("vec_id"), "vec_id")
    assert(n == 20)
    val codes = StoreSwap.snapshot(spark, path).read("pq_codes", "c_bucket")
    assert(codes.filter(col("id") % 2 === 0).count() == 0,
      "forgotten ids still have PQ codes")
    assert(codes.count() == 20)
    val after = codeList()
    val survivorBuckets = codes.select("c_bucket").distinct()
      .collect().map(r => s"c_bucket=${r.getInt(0)}").toSet
    survivorBuckets.foreach(b => assert(after(b) == before(b),
      s"untouched code bucket $b was rewritten"))
    // and the PQ search serves only survivors
    val served = Similarity.pqTopKStore(spark, path,
        corpus().filter(col("vec_id") === 1L), "vec_id", "embedding",
        m = 2, dsub = 2, k = 10, nProbe = 2)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(served.nonEmpty && served.forall(_ % 2 == 1))
  }

  test("drift refit with a PQ sidecar keeps codes 1:1 with store rows under fresh cluster ids") {
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(corpus(), cents), path,
      "cluster", buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    Similarity.writeCodebookIds(spark, path,
      cents.zipWithIndex.map { case (c, i) => (i.toLong, c) })
    Similarity.writePqSidecar(spark, path, "vec_id", "embedding",
      m = 2, dsub = 2, ksub = 4)
    val drifted = Similarity.readStandingStore(spark, path)._1
      .select("cluster").distinct().orderBy("cluster")
      .limit(1).collect().map(_.getLong(0)).toSet
    val fresh = Similarity.refitStoreDriftedClusters(spark, path,
      "vec_id", "embedding", drifted, targetClusterSize = 10, iters = 1)
    assert(fresh.nonEmpty)
    val data = Similarity.readStandingStore(spark, path)._1
      .select(col("vec_id").as("id"), col("cluster").as("dc"))
    val codes = StoreSwap.snapshot(spark, path).read("pq_codes", "c_bucket")
      .select(col("id"), col("cluster").as("cc"))
    // exactly one code row per store row, and its cluster matches the
    // (possibly fresh) store assignment — no stale drifted-id codes
    assert(codes.count() == data.count())
    assert(data.join(codes, "id").filter(col("dc") =!= col("cc")).count() == 0)
    assert(codes.filter(col("cc").isin(drifted.toSeq: _*)).count() == 0)
    // the PQ search still serves the refit members
    val served = Similarity.pqTopKStore(spark, path,
        corpus().filter(col("vec_id") === 0L), "vec_id", "embedding",
        m = 2, dsub = 2, k = 39, nProbe = 2)
      .count()
    assert(served > 0)
  }

  test("drift refit with a RESIDUAL sidecar re-encodes members against the fresh cids") {
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(corpus(), cents), path,
      "cluster", buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    Similarity.writeCodebookIds(spark, path,
      cents.zipWithIndex.map { case (c, i) => (i.toLong, c) })
    Similarity.writePqSidecar(spark, path, "vec_id", "embedding",
      m = 2, dsub = 2, ksub = 4, residual = true)
    val drifted = Similarity.readStandingStore(spark, path)._1
      .select("cluster").distinct().orderBy("cluster")
      .limit(1).collect().map(_.getLong(0)).toSet
    val fresh = Similarity.refitStoreDriftedClusters(spark, path,
      "vec_id", "embedding", drifted, targetClusterSize = 10, iters = 1)
    assert(fresh.nonEmpty)
    // the residual encode joins on the coarse codebook — if the fresh
    // cids weren't written before the refresh, the refit members' code
    // rows would be silently dropped and this 1:1 check fails
    val data = Similarity.readStandingStore(spark, path)._1
      .select(col("vec_id").as("id"), col("cluster").as("dc"))
    val codes = StoreSwap.snapshot(spark, path).read("pq_codes", "c_bucket")
      .select(col("id"), col("cluster").as("cc"))
    assert(codes.count() == data.count())
    assert(data.join(codes, "id").filter(col("dc") =!= col("cc")).count() == 0)
  }

  test("drift refit with a ROTATED-RESIDUAL sidecar keeps codes 1:1 (stacked flavors survive the refresh)") {
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(corpus(), cents), path,
      "cluster", buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    Similarity.writeCodebookIds(spark, path,
      cents.zipWithIndex.map { case (c, i) => (i.toLong, c) })
    Similarity.writePqSidecar(spark, path, "vec_id", "embedding",
      m = 2, dsub = 2, ksub = 4, residual = true, rotate = true)
    val drifted = Similarity.readStandingStore(spark, path)._1
      .select("cluster").distinct().orderBy("cluster")
      .limit(1).collect().map(_.getLong(0)).toSet
    val fresh = Similarity.refitStoreDriftedClusters(spark, path,
      "vec_id", "embedding", drifted, targetClusterSize = 10, iters = 1)
    assert(fresh.nonEmpty)
    // the refresh re-encodes through appendPqCodes, which must apply
    // BOTH persisted flavors (residualize against the fresh coarse
    // cids, then rotate) — a dropped flavor would yield wrong or
    // missing code rows
    val data = Similarity.readStandingStore(spark, path)._1
      .select(col("vec_id").as("id"), col("cluster").as("dc"))
    val codes = StoreSwap.snapshot(spark, path).read("pq_codes", "c_bucket")
      .select(col("id"), col("cluster").as("cc"))
    assert(codes.count() == data.count())
    assert(data.join(codes, "id").filter(col("dc") =!= col("cc")).count() == 0)
    // search still serves refit members through the stacked query path
    val served = Similarity.pqTopKStore(spark, path,
        corpus().filter(col("vec_id") === 0L), "vec_id", "embedding",
        m = 2, dsub = 2, k = 10, nProbe = 2)
      .count()
    assert(served > 0)
  }

  test("a ROTATED sidecar auto-rotates delta appends; codes match a rotate-aware re-encode") {
    val standing = corpus().filter(col("vec_id") % 3 =!= 0)
    val cents = Similarity.trainCentroids(standing, "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(standing, cents), path,
      "cluster", buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    Similarity.writePqSidecar(spark, path, "vec_id", "embedding",
      m = 2, dsub = 2, ksub = 4, rotate = true)
    val reloaded = Similarity.readCodebook(spark, path)
    val delta = assigned(corpus().filter(col("vec_id") % 3 === 0), reloaded)
    Similarity.appendToStandingStore(
      delta.select(col("vec_id"), col("embedding"), col("cluster"),
        col("nrm")), path, "cluster")
    Similarity.appendPqCodes(spark, path, delta, "vec_id", "embedding",
      m = 2, dsub = 2)
    // expected codes: rotate the delta vectors, then per-sub argmin
    // against the persisted PQ codebook — if appendPqCodes had ignored
    // the sidecar's rotated flavor, the argmin would be over UNROTATED
    // subvectors and disagree
    val rot = Similarity.whtRotate(
      delta.select(col("vec_id"), col("embedding")), "embedding", "r", 4)
    val pqcb = StoreSwap.snapshot(spark, path).read("pq_codebook", "part")
    val exp = rot.select(col("vec_id"), explode(array(
        struct(lit(0).as("sub"), slice(col("r"), 1, 2).as("sv")),
        struct(lit(1).as("sub"), slice(col("r"), 3, 2).as("sv")))).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      .join(pqcb, "sub")
      .withColumn("d2", Similarity.sqDistCols(col("sv"), col("cent")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("cid"))).as("mn"))
      .select(col("vec_id"), col("sub"), col("mn.cid").as("exp_cid"))
    val got = StoreSwap.snapshot(spark, path).read("pq_codes", "c_bucket")
      .filter(col("id") % 3 === 0)
      .select(col("id").as("vec_id"), col("codes"))
    assert(got.count() == delta.count())
    val mismatches = got.join(exp, "vec_id")
      .filter(element_at(col("codes"), col("sub") + 1).cast("long")
        =!= col("exp_cid"))
      .count()
    assert(mismatches == 0, "delta codes differ from the rotate-aware encode")
    // and the search path (which rotates the query side) serves them
    val served = Similarity.pqTopKStore(spark, path,
        corpus().filter(col("vec_id") === 3L), "vec_id", "embedding",
        m = 2, dsub = 2, k = 10, nProbe = 2)
      .count()
    assert(served > 0)
  }

  test("refit re-run after a post-append crash duplicates nothing (data, codes, codebook)") {
    // the refit's delete, appends, code refresh and codebook write are
    // one store transaction: a crash before its manifest rename (here the
    // rename fails, through FaultFs) publishes none of them
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding", 2, 2)
    def build(path: String): Set[Long] = {
      Similarity.writeStandingStore(assigned(corpus(), cents), path,
        "cluster", buckets = 8)
      Similarity.writeCodebook(spark, path, cents)
      Similarity.writeCodebookIds(spark, path,
        cents.zipWithIndex.map { case (c, i) => (i.toLong, c) })
      Similarity.writePqSidecar(spark, path, "vec_id", "embedding",
        m = 2, dsub = 2, ksub = 4)
      Similarity.readStandingStore(spark, path)._1
        .select("cluster").distinct().orderBy("cluster")
        .limit(1).collect().map(_.getLong(0)).toSet
    }
    def refit(path: String, drifted: Set[Long]) =
      Similarity.refitStoreDriftedClusters(spark, path,
        "vec_id", "embedding", drifted, targetClusterSize = 10, iters = 1)
    def rows(path: String, dataDir: String, partCol: String) =
      StoreSwap.snapshot(spark, path).read(dataDir, partCol).collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
    // rows, codes and codebook (ids and centroids)
    def snap(path: String) = (rows(path, "data", "c_bucket"),
      rows(path, "pq_codes", "c_bucket"), rows(path, "codebook", "part"))
    val reference = Fixtures.tempDir("graft-store-").resolve("s").toString
    val fresh = refit(reference, build(reference))
    assert(fresh.nonEmpty)
    val clean = snap(reference)
    spark.conf.set("fs.faultfs.impl", classOf[FaultFs].getName)
    spark.conf.set("fs.faultfs.impl.disable.cache", "true")
    try {
      val path = "faultfs://" +
        Fixtures.tempDir("graft-store-").resolve("s").toString
      val drifted = build(path)
      val v0 = StoreSwap.snapshotVersions(spark, path)
      val before = snap(path)
      FaultFs.failRenameTo.set(_.startsWith("store.v"))
      intercept[RuntimeException](refit(path, drifted))
      assert(FaultFs.failRenameTo.get == null, "no manifest rename was tried")
      assert(StoreSwap.snapshotVersions(spark, path) == v0)
      assert(snap(path) == before, "the failed refit changed the store")
      // the re-run is a clean refit: no duplicate rows, codes or
      // codebook entries
      assert(refit(path, drifted) == fresh)
      assert(snap(path) == clean)
    } finally {
      FaultFs.failRenameTo.set(null)
      Seq("fs.faultfs.impl", "fs.faultfs.impl.disable.cache")
        .foreach(spark.conf.unset)
    }
  }

  test("a pre-commit crash (orphan staging, no manifest) leaves the store untouched") {
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(corpus(), cents), path,
      "cluster", buckets = 8)
    // orphan staging dir, NO manifest — the crash happened before commit
    Seq((9999L, Seq(1f, 1f, 1f, 1f), 0L, 2.0))
      .toDF("vec_id", "embedding", "cluster", "nrm")
      .withColumn("c_bucket", lit(0))
      .write.partitionBy("c_bucket").parquet(path + "/.staging")
    val (df, _) = Similarity.readStandingStore(spark, path)
    assert(df.count() == 40) // store content unchanged, orphan invisible
    assert(df.filter(col("vec_id") === 9999L).count() == 0)
    // the next real mutation reclaims the orphan and completes normally
    val n = Similarity.deleteFromStandingStore(spark, path,
      Seq(0L).toDF("vec_id"), "vec_id")
    assert(n == 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, ".staging")))
    assert(Similarity.readStandingStore(spark, path)._1.count() == 39)
  }

  test("over-budget PQ search equals broadcast: vanilla and residual") {
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(corpus(), cents), path,
      "cluster", buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    Similarity.writePqSidecar(spark, path, "vec_id", "embedding",
      m = 2, dsub = 2, ksub = 4)
    def run() = Similarity.pqTopKStore(spark, path, corpus(),
        "vec_id", "embedding", m = 2, dsub = 2, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sorted.toSeq
    val vanilla = run()
    // a ~0.01 MB budget puts the 40-query batch over budget: its
    // distance tables are shuffled, not broadcast — same rows exactly
    spark.conf.set("graft.pq.maxBroadcastMb", "0.01")
    try assert(run() == vanilla, "shuffled ADC diverged from broadcast")
    finally spark.conf.unset("graft.pq.maxBroadcastMb")
    // the residual flavor takes the same shuffled pass
    Similarity.writePqSidecar(spark, path, "vec_id", "embedding",
      m = 2, dsub = 2, ksub = 4, residual = true)
    val residual = run()
    spark.conf.set("graft.pq.maxBroadcastMb", "0.01")
    try assert(run() == residual, "shuffled residual ADC diverged")
    finally spark.conf.unset("graft.pq.maxBroadcastMb")
    // an unparsable or non-positive budget is a named error, never a
    // silent fall-back to the default
    for ((key, bad) <- Seq("graft.pq.maxBroadcastMb" -> "64MB",
        "graft.pq.maxBroadcastMb" -> "0")) {
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(key) &&
          e.getMessage.contains(s"'$bad'"), e.getMessage)
      } finally spark.conf.unset(key)
    }
  }

  // ---- writer lease: the single-mutator contract, enforced ----------

  private def builtStore(): String = {
    val base = corpus()
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-store-").resolve("s").toString
    Similarity.writeStandingStore(assigned(base, cents), path,
      "cluster", buckets = 8)
    path
  }

  test("a second mutator fails fast while the writer lease is held") {
    val path = builtStore()
    // simulate a live foreign writer: its lease file exists and is fresh
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_writer_lease"),
      "foreign-writer@elsewhere".getBytes("UTF-8"))
    val e = intercept[RuntimeException] {
      Similarity.deleteFromStandingStore(spark, path,
        Seq(0L).toDF("vec_id"), "vec_id")
    }
    assert(e.getMessage.contains("writer lease") &&
      e.getMessage.contains("foreign-writer@elsewhere"))
    // the failed attempt must not have consumed the foreign lease
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "_writer_lease")))
    // ...and the store is untouched
    assert(Similarity.readStandingStore(spark, path)._1.count() == 40)
  }

  test("a stale lease (crashed writer) is broken and the mutation proceeds") {
    val path = builtStore()
    val lp = java.nio.file.Paths.get(path, "_writer_lease")
    java.nio.file.Files.write(lp, "dead-writer@gone".getBytes("UTF-8"))
    // age the file past the stale threshold
    java.nio.file.Files.setLastModifiedTime(lp,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - graft.operators.StoreSwap.DefaultLeaseStaleMs - 1000))
    val n = Similarity.deleteFromStandingStore(spark, path,
      Seq(0L).toDF("vec_id"), "vec_id")
    assert(n == 1)
    // lease released after the mutation completes
    assert(!java.nio.file.Files.exists(lp))
  }

  test("withLease is reentrant per thread and releases on exit, also on failure") {
    val path = Fixtures.tempDir("graft-lease-").resolve("s").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    val lp = java.nio.file.Paths.get(path, "_writer_lease")
    val got = StoreSwap.withLease(spark, path) {
      assert(java.nio.file.Files.exists(lp)) // held across the body
      StoreSwap.withLease(spark, path) { 42 } // nested acquire: no-op
    }
    assert(got == 42)
    assert(!java.nio.file.Files.exists(lp))
    intercept[IllegalStateException] {
      StoreSwap.withLease(spark, path) {
        throw new IllegalStateException("boom")
      }
    }
    assert(!java.nio.file.Files.exists(lp)) // released on the error path too
  }

  test("lease release leaves no tombstone residue") {
    val path = Fixtures.tempDir("graft-lease-").resolve("s").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    StoreSwap.withLease(spark, path) { 1 }
    val leftovers = java.nio.file.Files.list(
        java.nio.file.Paths.get(path)).toArray.map(_.toString)
      .filter(p => p.contains("lease"))
    assert(leftovers.isEmpty, s"lease residue: ${leftovers.mkString(",")}")
  }

  test("a writer whose lease was stale-broken does not release the new holder's lease") {
    val path = Fixtures.tempDir("graft-lease-").resolve("s").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    val lp = java.nio.file.Paths.get(path, "_writer_lease")
    StoreSwap.withLease(spark, path) {
      // while this writer runs past staleMs, a second mutator breaks
      // its lease and acquires: simulate by replacing the lease file
      java.nio.file.Files.write(lp,
        "new-holder#other-token".getBytes("UTF-8"))
    }
    // the finishing writer must NOT have deleted the new holder's lease
    assert(java.nio.file.Files.exists(lp),
      "stale-broken writer deleted the live holder's lease on exit")
    assert(new String(java.nio.file.Files.readAllBytes(lp), "UTF-8").trim
      == "new-holder#other-token")
    java.nio.file.Files.delete(lp)
  }
}
