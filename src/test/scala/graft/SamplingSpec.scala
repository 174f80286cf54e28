package graft

import graft.operators.Sampling
import org.apache.spark.sql.functions._

/** Deterministic sampling: layout-independence, exact quotas, stable
  * splits. */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private val df = (1L to 1000L).map(i => (i, s"s${i % 3}")).toDF("id", "stratum")

  test("bernoulli is key-decided: identical under repartitioning") {
    val a = Sampling.bernoulli(df, "id", 0.3, seed = 5).select("id")
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.bernoulli(df.repartition(13), "id", 0.3, seed = 5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(math.abs(a.size - 300) < 60) // ~fraction, not exact
  }

  test("stratifiedQuota takes exactly k per stratum, hash-ordered") {
    val s = Sampling.stratifiedQuota(df, "stratum", "id", k = 7, seed = 5)
    val counts = s.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("s0" -> 7L, "s1" -> 7L, "s2" -> 7L))
    // small stratum: takes all of it
    val tiny = Seq((1L, "x"), (2L, "x")).toDF("id", "stratum")
    assert(Sampling.stratifiedQuota(tiny, "stratum", "id", k = 7).count() == 2)
    // a quota below 1 is the top-k kernel's named error (it used to
    // return an empty sample)
    val e = intercept[IllegalArgumentException](
      Sampling.stratifiedQuota(df, "stratum", "id", k = 0))
    assert(e.getMessage.contains("topKPer: k must be >= 1, got 0"))
  }

  test("stratifiedQuota keeps a caller's own rank column") {
    val ranked = df.withColumn("rank", col("id") * 10)
    val s = Sampling.stratifiedQuota(ranked, "stratum", "id", k = 3, seed = 5)
    assert(s.columns.toSeq == Seq("id", "stratum", "rank", "sample_rank"))
    assert(s.collect().forall(r => r.getAs[Long]("rank") == r.getAs[Long]("id") * 10))
    assert(s.select("sample_rank").distinct().collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L, 3L))
    // the kernel refuses to overwrite an input column with its rank
    val e = intercept[IllegalArgumentException](Sampling.stratifiedQuota(
      df.withColumn("sample_rank", lit(0L)), "stratum", "id", k = 3))
    assert(e.getMessage.contains("`sample_rank`"), e.getMessage)
  }

  test("string keys hash through polyHash instead of a null-ing cast") {
    // a bare cast("long") on these ids is null for every row — bernoulli
    // would silently keep nothing and withSplit would send all rows to
    // the last label
    val sdf = (1L to 1000L).map(i => (s"doc-$i", i)).toDF("doc_id", "v")
    val kept = Sampling.bernoulli(sdf, "doc_id", 0.3, seed = 5)
    assert(math.abs(kept.count() - 300L) < 80)
    val again = Sampling.bernoulli(sdf.repartition(7), "doc_id", 0.3, seed = 5)
    assert(kept.select("doc_id").collect().map(_.getString(0)).toSet ==
      again.select("doc_id").collect().map(_.getString(0)).toSet)

    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val dist = Sampling.withSplit(sdf, "doc_id", splits)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist.keySet == Set("train", "val", "test")) // not all-one-label
    assert(dist("train") > 700)
  }

  test("unsupported key types are rejected loudly") {
    val adf = Seq((Seq(1L), 1)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Sampling.bernoulli(adf, "k", 0.5)
    }
    assert(e.getMessage.contains("must be numeric or string"))
  }

  test("withSplit assignments are stable when the corpus grows") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val small = Sampling.withSplit(df.filter(col("id") <= 500), "id", splits)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val big = Sampling.withSplit(df, "id", splits)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(small.forall { case (id, s) => big(id) == s }) // no migration
    val dist = big.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(dist("train") > 700 && dist("test") > 50) // roughly proportional
  }
}
