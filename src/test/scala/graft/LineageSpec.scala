package graft

import graft.operators.Lineage

/** `graft.plan.cuts` selects the plan-cut mechanism; the three
  * documented values work and anything else is refused by name. */
class LineageSpec extends SparkSpec {

  private def withCuts[T](v: String)(body: => T): T = {
    spark.conf.set(Lineage.ModeKey, v)
    try body finally spark.conf.unset(Lineage.ModeKey)
  }

  test("the documented cut modes keep the relation's rows") {
    Seq("checkpoint", "persist", "off").foreach { m =>
      withCuts(m) {
        assert(Lineage.cut(spark.range(5).toDF()).count() == 5, m)
      }
    }
    assert(Lineage.cut(spark.range(3).toDF()).count() == 3) // default
  }

  test("an unknown graft.plan.cuts value fails loudly, naming the key") {
    Seq("persists", "OFF").foreach { bad =>
      val e = withCuts(bad) {
        intercept[IllegalArgumentException](Lineage.cut(spark.range(1).toDF()))
      }
      assert(e.getMessage.contains("graft.plan.cuts") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
