package graft

import graft.operators.{GraftConf, Lineage}

/** `graft.plan.cuts` selects the plan-cut mechanism; the two documented
  * values work, and a bad value of it or of any other declared `graft.*`
  * key is refused with the key's message. */
class LineageSpec extends SparkSpec {

  test("the documented cut modes keep the relation's rows") {
    Seq("checkpoint", "off").foreach { m =>
      GraftConf.PlanCuts.withValue(spark, m) {
        assert(Lineage.cut(spark.range(5).toDF()).count() == 5, m)
      }
    }
    assert(Lineage.cut(spark.range(3).toDF()).count() == 3) // default
  }

  test("an unknown graft.plan.cuts value fails loudly, naming the key") {
    Seq("persists", "OFF").foreach { bad =>
      val e = GraftConf.PlanCuts.withValue(spark, bad) {
        intercept[IllegalArgumentException](Lineage.cut(spark.range(1).toDF()))
      }
      assert(e.getMessage.contains("graft.plan.cuts") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("every declared graft.* key refuses a bad value with its message") {
    val cases = Seq[(GraftConf.Key[_], String, String)](
      (GraftConf.SnapshotKeep, "eight", "a non-negative integer"),
      (GraftConf.SnapshotKeep, "-1", "a non-negative integer"),
      (GraftConf.PqMaxBroadcastMb, "64MB", "a positive number of MB"),
      (GraftConf.PqMaxBroadcastMb, "0", "a positive number of MB"),
      (GraftConf.LshMaxBroadcastMb, "lots", "a positive number of MB"),
      (GraftConf.LshMaxBroadcastMb, "-2", "a positive number of MB"),
      (GraftConf.BandIndexBuckets, "0", "a positive integer"),
      (GraftConf.BandIndexBuckets, "fine", "a positive integer"),
      (GraftConf.PlanCuts, "persists", "checkpoint or off"),
      (GraftConf.PlanCuts, "OFF", "checkpoint or off"))
    assert(cases.map(_._1.name).distinct.sorted == GraftConf.declared.sorted)
    for ((key, bad, what) <- cases) {
      val e = key.withValue(spark, bad) {
        intercept[IllegalArgumentException](key(spark))
      }
      assert(e.getMessage == s"${key.name} must be $what, got '$bad'")
    }
  }
}
