package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage breakdown of the q163 dedup cascade at the sf10 tier — which
  * of the three stages (exact fingerprint, n-gram near-dup, portable
  * SimHash) carries the 100×-data cost, and what MinHash banding
  * (`minhashLshPairs`, 32 hashes × 16 bands) costs relative to the
  * exact shingle join. */
object CascadeProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.{Dedup, TextOps}
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf10")
    def t(body: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = body
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val corpus = d.unionByName(d.select((col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
    val n = corpus.count()
    // sim FIRST this run: rule out session/box ordering effects on the
    // 744s-vs-80s discrepancy between the isolated stage and the
    // composed q163 bench value
    val (simFirstSec, nSimFirst) = t {
      Dedup.simhashPairsPortable(corpus, "doc_id", "text", maxDist = 3)
        .count()
    }
    spark.catalog.clearCache()
    val (fullSec, nFull) = t {
      import graft.operators.SignalQueries
      SparkEntry.queries("q163_dedup_cascade")(spark, dir).count()
    }
    spark.catalog.clearCache()
    val (exactSec, nExact) = t {
      corpus.select(TextOps.fingerprint(col("text")).as("fp"), col("doc_id"))
        .groupBy("fp").agg(count(lit(1))).count()
    }
    spark.catalog.clearCache()
    val (nearBandedSec, nBanded) = t {
      Dedup.minhashLshPairs(corpus, "doc_id", "text", n = 5,
        numHashes = 32, bands = 16, threshold = 0.5).count()
    }
    spark.catalog.clearCache()
    val (nearExactSec, nNear) = t {
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 5,
        threshold = 0.5).count()
    }
    spark.catalog.clearCache()
    val (simSec, nSim) = t {
      Dedup.simhashPairsPortable(corpus, "doc_id", "text", maxDist = 3)
        .count()
    }
    println(f"""{"probe":"cascade","n_docs":$n,""" +
      f""""simhash_first_sec":$simFirstSec%.2f,"n_sim_first":$nSimFirst,""" +
      f""""full_q163_sec":$fullSec%.2f,"n_full":$nFull,""" +
      f""""exact_sec":$exactSec%.2f,""" +
      f""""near_banded_sec":$nearBandedSec%.2f,"n_banded_pairs":$nBanded,""" +
      f""""near_exact_sec":$nearExactSec%.2f,"n_exact_pairs":$nNear,""" +
      f""""simhash_sec":$simSec%.2f,"n_sim_pairs":$nSim}""")
    spark.stop()
  }
}
