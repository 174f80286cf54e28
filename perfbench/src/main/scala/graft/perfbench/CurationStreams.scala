package graft.perfbench

import graft.operators.{Dedup, Similarity, StoreSwap}
import graft.pipeline.CurationPipeline
import graft.pipeline.CurationPipeline._
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.collection.mutable

/** `curation_streams`: every layer `etl_load` leaves idle, each called
  * once per round, at sizes that let a round fit a run: the text-curation
  * operators, the standing signature store fed by a stream, and the
  * streaming state store.
  *
  *  1. `CurationPipeline.run` (quality → repetition → exact_dedup →
  *     decontaminate) over a seeded corpus, kept ids collected;
  *  2. `Dedup.minhashSignatures` over the corpus (noop sink);
  *  3. `Dedup.minhashLshPairs`: the corpus's banded near-duplicate pairs;
  *  4. `Similarity.ivfTopKTrained` over seeded clustered vectors;
  *  5. a file stream of small delta files, one per trigger, through
  *     `foreachBatch` → `Dedup.ingestBatchIntoStore(batchId)` into a copy
  *     of a unified, versioned store, each commit followed by one
  *     `Dedup.lshJudgeStore` read of a fixed probe set;
  *  6. the session-window stream of [[StreamSessions]].
  *
  * The corpus plants every fate a document can meet: short and
  * blocklisted documents (quality), repetitive ones (repetition), exact
  * copies, near duplicates (one word changed), and documents carrying a
  * 30-word span of a held-out document (decontamination); every other
  * document is random prose, so the survivors and the near-duplicate
  * pairs are known from the generator. Each probe is a one-word variant
  * of a document that enters the store with the base or with a known
  * delta, so every judgment is known too.
  *
  * The pipeline's near_dedup step (`Dedup.dupGroups`) is left out: it
  * spends about 13 s per call in driver-side planning on four cores
  * whatever the corpus size, more than a run can give it; near duplicates
  * come from the banded pairs of step 3. */
final class CurationStreams extends Workload {
  import CurationStreams._

  private var dir: Path = _
  private var texts: Map[Long, String] = Map.empty
  private var survivors: Set[Long] = Set.empty
  private var exactPairs: Seq[(Long, Long)] = Nil
  private var nearPairs: Seq[(Long, Long)] = Nil
  /** every corpus pair with 5-shingle Jaccard >= 0.5, id_a < id_b */
  private var truePairs: Map[(Long, Long), Double] = Map.empty
  private var vectors: Map[Long, Array[Double]] = Map.empty
  private var queries: Map[Long, Array[Double]] = Map.empty
  private var truthTopK: Map[Long, Seq[Long]] = Map.empty
  /** texts of the store's documents and probes */
  private var storeTexts: Map[Long, String] = Map.empty
  /** probe id -> (its source document, the delta that brings it; -1 = base) */
  private var probeSource: Map[Long, (Long, Int)] = Map.empty
  private var inputRows = 0L
  private var inputBytes = 0L

  private val sessions = new StreamSessions

  /** A round is long enough to be its own warm-up: the timed phase is the
    * JVM's first full round, after two set-ups that each build the store. */
  override def warmRounds: Int = 0

  def setUp(spark: SparkSession, dir: Path, seed: Long): Unit = {
    this.dir = dir
    Disk.delete(dir)
    Files.createDirectories(dir)
    sessions.setUp(spark, dir.resolve("sessions"), seed)
    val corpus = generateCorpus(new Gen(seed, 2L))
    val store = generateStore(new Gen(seed, 3L))

    import spark.implicits._
    def frame(docs: Seq[(Long, Vector[String])]) =
      docs.map { case (id, w) => (id, w.mkString(" ")) }.toDF("doc_id", "text").coalesce(1)
    frame(corpus._1).write.parquet(dir.resolve("corpus").toString)
    frame(corpus._2).write.parquet(dir.resolve("holdout").toString)
    vectors.toSeq.sortBy(_._1).map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")
      .coalesce(1).write.parquet(dir.resolve("vectors").toString)
    queries.toSeq.sortBy(_._1).map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")
      .coalesce(1).write.parquet(dir.resolve("queries").toString)
    val (base, deltas, probes) = store
    frame(base).write.parquet(dir.resolve("base").toString)
    frame(probes).write.parquet(dir.resolve("probes").toString)
    val deltaDir = Files.createDirectories(dir.resolve("deltas"))
    deltas.zipWithIndex.foreach { case (docs, d) =>
      val stage = dir.resolve(s"stage-$d")
      frame(docs).write.parquet(stage.toString)
      val part = Files.list(stage).filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      val dest = deltaDir.resolve(f"delta$d%02d.parquet")
      Files.move(part, dest)
      // the file source takes the oldest file first
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1600000000000L + d * 2000L))
      Disk.delete(stage)
    }
    inputRows = (Docs + Vectors + Deltas * DeltaDocs).toLong
    inputBytes = Seq("corpus", "holdout", "vectors", "queries", "deltas", "probes")
      .map(d => Disk.bytes(dir.resolve(d))).sum

    val path = dir.resolve("store").toString
    val baseDocs = spark.read.parquet(dir.resolve("base").toString)
    Dedup.writeSignatureStore(Dedup.minhashSignatures(baseDocs, "doc_id", "text"),
      path, "doc_id", buckets = StoreBuckets, versioned = true)
    Dedup.writeBandIndex(spark, path, "doc_id", bands = 8)
    Dedup.writeShingleSidecar(spark, path, baseDocs, "doc_id", "text")
    Dedup.unifySignatureStore(spark, path)
  }

  /** Returns the corpus and the held-out documents. */
  private def generateCorpus(g: Gen): (Seq[(Long, Vector[String])], Seq[(Long, Vector[String])]) = {
    val vocab = g.vocabulary(5000)
    val r = g.rnd
    def prose() = g.prose(vocab, 40 + r.nextInt(60))
    val holdout = Vector.fill(Holdout)(g.prose(vocab, 60))
    val docs = mutable.ArrayBuffer[(Long, Vector[String])]()
    val clean = mutable.ArrayBuffer[(Long, Vector[String])]()
    val exact = mutable.ArrayBuffer[(Long, Long)]()
    val near = mutable.ArrayBuffer[(Long, Long)]()
    (1 to Docs).foreach { i =>
      val id = i.toLong
      val roll = r.nextDouble()
      val words =
        if (roll < ShortShare) g.prose(vocab, 5)
        else if (roll < 0.03) prose().patch(10, Seq(Blocked), 1)
        else if (roll < 0.05) {
          val (a, b) = (vocab(r.nextInt(vocab.size)), vocab(r.nextInt(vocab.size)))
          Vector.tabulate(40 + r.nextInt(30))(k => if (k % 2 == 0) "the" else if (k % 4 == 1) a else b)
        } else if (roll < 0.05 + ExactShare && clean.nonEmpty) {
          val (base, w) = clean(r.nextInt(clean.size))
          exact += ((base, id))
          w
        } else if (roll < 0.05 + ExactShare + NearShare && clean.nonEmpty) {
          val (base, w) = clean(r.nextInt(clean.size))
          near += ((base, id))
          g.variant(vocab, w, 1)
        } else if (roll < 0.05 + ExactShare + NearShare + ContaminatedShare) {
          val h = holdout(r.nextInt(holdout.size))
          prose().patch(r.nextInt(30), h.slice(15, 45), 0)
        } else {
          val w = prose()
          clean += ((id, w))
          w
        }
      docs += ((id, words))
    }
    texts = docs.map { case (id, w) => id -> w.mkString(" ") }.toMap
    // a near duplicate whose changed word was the only stopword fails the
    // quality gate
    val words = docs.toMap
    survivors = clean.map(_._1).toSet ++
      near.map(_._2).filter(id => words(id).exists(Gen.stopwords.contains))
    exactPairs = exact.toSeq
    nearPairs = near.toSeq
    // only members of one planted family (a base, its copies and its
    // variants) share 5-word shingles; everything else is random prose
    val families = (exact ++ near).groupBy(_._1).map { case (b, ms) => b +: ms.map(_._2).toSeq }
    truePairs = families.flatMap { members =>
      val sh = members.map(id => id -> Truth.shingles(texts(id), 5)).toMap
      for (a <- members; b <- members if a < b; j = Truth.jaccard(sh(a), sh(b)) if j >= 0.5)
        yield (a, b) -> j
    }.toMap

    // clustered vectors: ids cycle through the clusters, so the lowest ids
    // (which seed k-means) hold one vector of each cluster
    val centers = Vector.fill(Clusters)(Array.fill(Dim)(r.nextGaussian() * 4.0))
    def around(cl: Int) = centers(cl).map(_ + r.nextGaussian())
    vectors = (1 to Vectors).map(i => i.toLong -> around((i - 1) % Clusters)).toMap
    queries = (1 to Queries).map(i => (1000000L + i) -> around(r.nextInt(Clusters))).toMap
    truthTopK = queries.map { case (q, qv) =>
      q -> vectors.toSeq.map { case (id, v) => (cosine(qv, v), id) }
        .sortBy { case (cos, id) => (-cos, id) }.take(K).map(_._2)
    }
    (docs.toSeq, holdout.zipWithIndex.map { case (w, i) => (i.toLong, w) })
  }

  /** Returns the store's base documents, the deltas and the probes. */
  private def generateStore(g: Gen): (Seq[(Long, Vector[String])],
      Seq[Seq[(Long, Vector[String])]], Seq[(Long, Vector[String])]) = {
    val vocab = g.vocabulary(5000)
    val r = g.rnd
    def prose() = g.prose(vocab, 50 + r.nextInt(40))
    val base = (1 to BaseDocs).map(i => i.toLong -> prose())
    // documents that probes point at are kept apart from those deltas copy
    val (probeSrcBase, copySrc) = r.shuffle(base).splitAt(Probes / 2)
    val copied = mutable.ArrayBuffer[(Long, Vector[String])]() ++ copySrc.take(BaseDocs / 4)
    val fresh = mutable.ArrayBuffer[(Long, Vector[String], Int)]()
    val deltas = (0 until Deltas).map { d =>
      (0 until DeltaDocs).map { j =>
        val id = 100000L + d * 1000L + j
        val roll = r.nextDouble()
        // re-crawls: a fifth of a delta are near copies of stored documents
        val words =
          if (roll < 0.2) g.variant(vocab, copied(r.nextInt(copied.size))._2, 2)
          else prose()
        if (roll >= 0.2 && roll < 0.3) copied += ((id, words))
        else if (roll >= 0.3) fresh += ((id, words, d))
        id -> words
      }
    }
    val sources = probeSrcBase.map { case (id, w) => (id, w, -1) } ++
      r.shuffle(fresh.toSeq).take(Probes - probeSrcBase.size)
    val probes = sources.zipWithIndex.map { case ((src, w, d), j) =>
      (900000L + j, g.variant(vocab, w, 1), src, d)
    }
    probeSource = probes.map { case (p, _, src, d) => p -> (src, d) }.toMap
    storeTexts = ((base ++ deltas.flatten).map { case (id, w) => id -> w.mkString(" ") } ++
      probes.map { case (p, w, _, _) => p -> w.mkString(" ") }).toMap
    (base, deltas, probes.map { case (p, w, _, _) => (p, w) })
  }

  private def read(spark: SparkSession, name: String) = spark.read.parquet(dir.resolve(name).toString)

  private def steps(spark: SparkSession) = Seq(QualityGate(Gen.stopwords, Seq(Blocked)),
    RepetitionFilter(), ExactDedup, Decontaminate(read(spark, "holdout"), 8, 5))

  /** None of its own: building the store in [[setUp]] runs the signature,
    * band-index and commit code an ingest uses, and the run has no time
    * for more. */
  def warmUp(spark: SparkSession, c: Collector, out: Path): Unit = ()

  def round(spark: SparkSession, c: Collector, out: Path, traced: Boolean): Round = {
    Files.createDirectories(out)
    val corpus = read(spark, "corpus")
    val steps = this.steps(spark)
    val layer = mutable.Map[String, Double]().withDefaultValue(0.0)
    val cached = mutable.ArrayBuffer[DataFrame]()
    def cut(df: DataFrame): DataFrame = { val d = df.cache(); d.count(); cached += d; d }
    val store = out.resolve("store")
    Disk.copy(dir.resolve("store"), store)
    val path = store.toString
    val storeBefore = Disk.snapshot(store)
    val versionsBefore = Dedup.signatureStoreVersions(spark, path).last
    val (base, probes) = (read(spark, "base"), read(spark, "probes"))
    val opsMs = mutable.ArrayBuffer[Double]()
    val readsMs = mutable.ArrayBuffer[Double]()
    val judgments = mutable.ArrayBuffer[(Int, Seq[(Long, Long, Double)])]()
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val progressFrom = c.progressCount
    var ingestQuery: java.util.UUID = null
    var centroids: Seq[Seq[Double]] = Nil

    val t0 = System.nanoTime()
    // 1. the curation pipeline; traced, one step per call, each forced
    val kept = {
      val curated =
        if (!traced) CurationPipeline.run(corpus, "doc_id", "text", steps)
        else steps.zip(StepSpans).foldLeft(corpus) { case (docs, (step, span)) =>
          c.span(span)(cut(CurationPipeline.run(docs, "doc_id", "text", Seq(step))))
        }
      curated.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    // 2. signatures of the whole corpus
    c.span("operators.dedup.signatures") {
      Dedup.minhashSignatures(corpus, "doc_id", "text").write.format("noop").mode("overwrite").save()
    }
    // 3. banded near-duplicate pairs
    val banded = c.span("operators.dedup.near") {
      Dedup.minhashLshPairs(corpus, "doc_id", "text", 5, 32, 8, 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    // 4. IVF top-k; traced, its two public calls one by one
    val topk = {
      val (qs, vs) = (read(spark, "queries"), read(spark, "vectors"))
      if (!traced) Similarity.ivfTopKTrained(qs, vs, "id", "vec", K, Clusters, Iters).collect()
      else {
        val cents = c.span("operators.similarity.train")(
          Similarity.trainCentroids(vs, "id", "vec", Clusters, Iters))
        centroids = cents
        c.span("operators.similarity.topk") {
          def assign(df: DataFrame) = df.withColumn("__cluster", Similarity.assignCluster(col("vec"), cents))
          Similarity.ivfTopK(assign(qs), assign(vs), "id", "vec", "__cluster", K).collect()
        }
      }
    }
    // 5. the delta stream into the store, one judgment after each commit
    c.span("streaming.ingest") {
      val query = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.resolve("deltas").toString)
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val s = batch.sparkSession
          opsMs += Main.timedMs(c.span("operators.dedup.ingest")(
            Dedup.ingestBatchIntoStore(s, path, batch, "doc_id", "text", batchId = Some(id))))._2
          val (judged, ms) = Main.timedMs(c.span("operators.dedup.judge")(
            Dedup.lshJudgeStore(s, path, base, probes, "doc_id", "text").collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))))
          readsMs += ms
          judgments += ((id.toInt, judged.toSeq))
          ()
        }
        .option("checkpointLocation", out.resolve("checkpoint").toString)
        .start()
      ingestQuery = query.id
      try query.processAllAvailable() finally query.stop()
    }
    val storeWallS = (System.nanoTime() - t0) / 1e9
    // 6. the session stream
    val sess = sessions.round(spark, c, out.resolve("sessions"), traced)
    val timedEnd = System.nanoTime()
    val wallS = storeWallS + sess.wallS
    cached.foreach(_.unpersist())
    val storeAfter = Disk.snapshot(store)
    val written = Disk.written(storeBefore, storeAfter)._2

    val failures = mutable.ArrayBuffer[String]()
    if (kept != survivors)
      failures += s"curation kept ${kept.size} docs, expected ${survivors.size}; " +
        s"wrongly kept ${(kept -- survivors).take(5)}, wrongly dropped ${(survivors -- kept).take(5)}"
    failures ++= checkSignatures(spark, corpus) ++ checkBandedPairs(banded)
    val (topkFailures, recall) =
      checkTopK(topk.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq)
    failures ++= topkFailures
    failures ++= judgments.flatMap { case (d, judged) => checkJudgment(d, judged) }
    if (opsMs.size != Deltas) failures += s"stream ran ${opsMs.size} batches, expected $Deltas"
    failures ++= sess.failures
    layer ++= sess.layer

    if (traced) {
      // counts that need calls of their own, made after the timed part
      val candidates = Dedup.minhashLshPairs(corpus, "doc_id", "text", 5, 32, 8, 0.0).count()
      layer("operators.dedup.near.pairs") = banded.size
      layer("operators.dedup.lsh.candidates") = candidates.toDouble
      layer("operators.dedup.lsh.verified") = banded.size
      layer("operators.dedup.lsh.precision") = banded.size.toDouble / candidates
      layer("operators.similarity.topk.recall") = recall
      layer("operators.similarity.topk.scored_per_query") = scoredPerQuery(centroids)
      layer("operators.dedup.judge.pairs") = judgments.last._2.size
      layer("operators.dedup.judge.candidates") = Dedup.lshJudgeStore(spark, path, base, probes,
        "doc_id", "text", threshold = 0.0).count().toDouble
      val (files, bytes) = Disk.written(storeBefore, storeAfter)
      layer("operators.storeswap.files_per_batch") = files.toDouble / Deltas
      layer("operators.storeswap.mb_per_batch") = bytes / 1e6 / Deltas
      layer("operators.storeswap.versions_per_batch") =
        (Dedup.signatureStoreVersions(spark, path).last - versionsBefore).toDouble / Deltas
      layer("operators.storeswap.live_mb") = storeAfter.values.map(_._1).sum / 1e6
      // the store lease alone: acquired and released around nothing
      c.span("operators.storeswap.lease")(StoreSwap.withLease(spark, path)(()))
      c.drain()
      val progress = c.progressSince(progressFrom)
        .filter(p => p.id == ingestQuery && p.numInputRows > 0)
      def p50(key: String) = Main.median(progress.map(_.durationMs.get(key).toDouble))
      layer("streaming.ingest.trigger_ms") = p50("triggerExecution")
      layer("streaming.ingest.add_batch_ms") = p50("addBatch")
      layer("streaming.ingest.wal_ms") = p50("walCommit")
    }
    Round(wallS, opsMs.toSeq, readsMs.toSeq, inputRows + sess.inputRows,
      inputBytes + sess.inputBytes, written + sess.writtenBytes,
      attempted = 4 + 2 * Deltas + sess.attempted, failures.toSeq,
      stateBytesPeak = sess.stateBytesPeak, layer = layer.toMap, timedEndNs = timedEnd)
  }

  /** Exact copies must carry identical signatures, every doc 16 of them. */
  private def checkSignatures(spark: SparkSession, corpus: DataFrame): Seq[String] = {
    val ids = exactPairs.take(20).flatMap { case (a, b) => Seq(a, b) }
    val sigs = Dedup.minhashSignatures(corpus.filter(col("doc_id").isin(ids: _*)), "doc_id", "text")
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    exactPairs.take(20).flatMap { case (a, b) =>
      if (sigs.get(a).exists(_.size == 16) && sigs.get(a) == sigs.get(b)) None
      else Some(s"exact copies $a and $b have signatures ${sigs.get(a)} and ${sigs.get(b)}")
    }
  }

  /** Every banded pair is a true pair with its exact Jaccard; no exact copy
    * is missed (a copy collides in every band); planted near duplicates
    * are found at the rate banding promises. */
  private def checkBandedPairs(got: Seq[(Long, Long, Double)]): Seq[String] = {
    val bad = got.filterNot { case (a, b, j) => truePairs.get((a, b)).exists(t => math.abs(t - j) < 1e-9) }
    val found = got.map { case (a, b, _) => (a, b) }.toSet
    def norm(p: (Long, Long)) = (math.min(p._1, p._2), math.max(p._1, p._2))
    val missedExact = exactPairs.map(norm).filterNot(found.contains)
    val nearFound = nearPairs.map(norm).count(found.contains)
    bad.take(3).map(p => s"banded pair $p is not a true pair") ++
      missedExact.take(3).map(p => s"banded pairs miss exact copies $p") ++
      (if (nearFound >= 0.9 * nearPairs.size) Nil
       else Seq(s"banded pairs found $nearFound of ${nearPairs.size} planted near duplicates"))
  }

  /** Scores are exact cosines, ranks are in order, and the answer agrees
    * with brute force on at least 90% of neighbours. */
  private def checkTopK(rows: Seq[(Long, Long, Double, Long)]): (Seq[String], Double) = {
    val byQuery = rows.groupBy(_._1)
    val bad = mutable.ArrayBuffer[String]()
    var hits = 0
    queries.foreach { case (q, qv) =>
      val got = byQuery.getOrElse(q, Nil).sortBy(_._4)
      if (got.size != K) bad += s"top-k of query $q has ${got.size} rows"
      got.foreach { case (_, n, cos, _) =>
        if (math.abs(cos - cosine(qv, vectors(n))) > 1e-9) bad += s"query $q neighbour $n scored $cos"
      }
      if (got.map(_._3) != got.map(_._3).sortBy(-_)) bad += s"query $q ranks out of order"
      hits += got.map(_._2).toSet.intersect(truthTopK(q).toSet).size
    }
    val recall = hits.toDouble / (queries.size * K)
    if (recall < 0.9) bad += s"top-k recall $recall against brute force"
    (bad.take(5).toSeq, recall)
  }

  /** Corpus vectors scored per query: the size of the query's cluster. */
  private def scoredPerQuery(cents: Seq[Seq[Double]]): Double = {
    def nearest(v: Array[Double]) = cents.indices.minBy { i =>
      (cents(i).indices.map(d => (v(d) - cents(i)(d)) * (v(d) - cents(i)(d))).sum, i)
    }
    val sizes = vectors.values.groupBy(nearest).map { case (cl, vs) => cl -> vs.size }
    queries.values.map(q => sizes.getOrElse(nearest(q), 0)).sum.toDouble / queries.size
  }

  /** After batch `d` the probes whose source is in the store are exactly
    * the pairs judged, each with its exact 3-shingle Jaccard. */
  private def checkJudgment(d: Int, judged: Seq[(Long, Long, Double)]): Seq[String] = {
    val expected = probeSource.collect { case (p, (src, at)) if at <= d => (src, p) }.toSet
    val got = judged.map { case (a, b, _) => (a, b) }.toSet
    val wrongScore = judged.filter { case (a, b, j) =>
      math.abs(Truth.jaccard(Truth.shingles(storeTexts(a), 3), Truth.shingles(storeTexts(b), 3)) - j) > 1e-9
    }
    (if (got == expected) Nil
     else Seq(s"judgment after batch $d: missing ${(expected -- got).take(3)}, " +
       s"unexpected ${(got -- expected).take(3)}")) ++
      wrongScore.take(3).map(p => s"judgment after batch $d scored $p")
  }
}

object CurationStreams {
  /** Corpus documents (40-100 words), held-out documents, and the shares
    * of planted fates: short (quality), exact copies, near duplicates and
    * contaminated documents; 1% are blocklisted and 2% repetitive. */
  val Docs = 1200
  val Holdout = 60
  val ShortShare = 0.02
  val ExactShare = 0.04
  val NearShare = 0.05
  val ContaminatedShare = 0.02
  /** Vectors, their clusters and dimension, queries, neighbours per query,
    * and k-means iterations (the lowest ids seed one centroid per planted
    * cluster, so three iterations settle the quantizer). */
  val Vectors = 2000
  val Clusters = 16
  val Dim = 16
  val Queries = 30
  val K = 10
  val Iters = 3
  /** Store base documents (50-90 words), its buckets, delta files (one per
    * trigger) of `DeltaDocs` documents, and probes judged after each commit. */
  val BaseDocs = 500
  val StoreBuckets = 4
  val Deltas = 1
  val DeltaDocs = 60
  val Probes = 20
  val Blocked = "casinobonus"

  val StepSpans = Seq("operators.textops.quality", "operators.textops.repetition",
    "operators.dedup.exact", "operators.dedup.decontam")

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var (dot, na, nb) = (0.0, 0.0, 0.0)
    a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
