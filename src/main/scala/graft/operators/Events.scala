package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-sequence analytics over the engine's event stream: ordered
  * conversion funnels and cohort retention. The reference delegates all
  * aggregation to its DBMS (/root/reference/Wrap/DB.pm:71-99); these are
  * the event-shaped queries its users would have run there, re-expressed
  * as shuffle-minimal DataFrame programs.
  */
object Events {

  /** Ordered conversion funnel: per user, the earliest completion chain
    * step₁ → step₂ → … where each step happens strictly after the
    * previous one and within `maxGapMicros` of it (first-touch
    * semantics: each step's time is the MIN qualifying event time given
    * the previous step's time). Emits one row per step with the surviving
    * user count.
    *
    * Scale shape: each step is one equi-join on the user key followed by
    * a partial-aggregated min — all shuffles share the same key, no
    * window over full event history, no per-user event-list
    * materialization (the collect_list formulation would buffer every
    * event of a hot user). Step relations shrink monotonically, so later
    * joins broadcast under AQE when conversion is low.
    */
  def funnelCounts(df: DataFrame, userCol: String, tsCol: String,
                   steps: Seq[(String, Column)],
                   maxGapMicros: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val us = unix_micros(col(tsCol))
    var cur: DataFrame = df.filter(steps.head._2)
      .groupBy(col(userCol).as("u")).agg(min(us).as("t"))
    val stages = Seq.newBuilder[(String, DataFrame)]
    stages += steps.head._1 -> cur
    for ((name, pred) <- steps.tail) {
      cur = df.filter(pred)
        .select(col(userCol).as("u"), us.as("ts_us"))
        .join(cur, Seq("u"))
        .filter(col("ts_us") > col("t") &&
          col("ts_us") <= col("t") + lit(maxGapMicros))
        .groupBy(col("u")).agg(min(col("ts_us")).as("t"))
      stages += name -> cur
    }
    stages.result().zipWithIndex.map { case ((name, d), i) =>
      d.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).cast("long").as("step"),
          lit(name).as("step_name"), col("n_users"))
    }.reduce(_ unionByName _)
  }

  /** Session path analysis: events are sessionized per user by the
    * `gapMicros` inactivity rule (the q44 lag+cumsum shape — ONE shuffle
    * on the user key), each session's ordered event-type sequence is
    * folded to a path string, and the most common paths are counted.
    * The per-session collect is bounded by session length (the gap rule
    * bounds it in wall-clock terms), and ordering is canonicalized via
    * `array_sort` over (time, id, type) structs — deterministic under
    * any partitioning.
    *
    * @return (path, n_sessions), the `topK` most frequent.
    */
  def sessionPaths(df: DataFrame, userCol: String, tsCol: String,
                   idCol: String, typeCol: String,
                   gapMicros: Long, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val us = unix_micros(col(tsCol))
    val sess = df
      .withColumn("__prev", lag(us, 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || us - col("__prev") > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("__sess", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy(col(userCol), col("__sess"))
      .agg(concat_ws("->",
        transform(
          array_sort(collect_list(struct(us.as("t"), col(idCol).as("i"),
            col(typeCol).as("e")))),
          s => s.getField("e"))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** At-least-once delivery cleanup: an event is a redelivery if the
    * SAME (key columns) combination occurred within `windowMicros`
    * before it — the lag-per-key rule, one shuffle on the key. Returns
    * the input rows with an `is_redelivery` flag (callers filter). */
  def windowDedupFlags(df: DataFrame, tsCol: String, orderCol: String,
                       keyCols: Seq[String], windowMicros: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(orderCol))
    val us = unix_micros(col(tsCol))
    df.withColumn("__prev", lag(us, 1).over(w))
      .withColumn("is_redelivery",
        col("__prev").isNotNull && (us - col("__prev") <= windowMicros))
      .drop("__prev")
  }

  /** Cohort retention: users grouped by their first-activity day; for
    * each (cohort, day-offset ≤ `maxOffsetDays`) the count of cohort
    * members active that day. Two aggregations and one equi-join, all on
    * the user key. */
  def retention(df: DataFrame, userCol: String, tsCol: String,
                maxOffsetDays: Int): DataFrame = {
    val day = to_date(col(tsCol))
    val first = df.groupBy(col(userCol).as("u")).agg(min(day).as("cohort"))
    val active = df.select(col(userCol).as("u"), day.as("day")).distinct()
    active.join(first, Seq("u"))
      .withColumn("day_offset", datediff(col("day"), col("cohort")).cast("long"))
      .filter(col("day_offset") <= maxOffsetDays)
      .groupBy(col("cohort"), col("day_offset"))
      .agg(countDistinct(col("u")).as("n_active"))
  }

  /** Exponentially-weighted moving average of each key's most recent
    * activity, α = ½ over the last `k` events — the "recent engagement"
    * feature of an event-driven training pipeline, computed in EXACT
    * dyadic integer arithmetic so it is bit-identical in any engine:
    * values quantized to milli-units (⌊v·1000⌋), the j-th newest event
    * weighted 2^(k−j), the weighted sum divided by Σweights = 2^k − 1
    * with integer division.
    *
    * Scale shape: one window ranking (rank ≤ k prunes per-key state to a
    * constant) and one partial-aggregated sum on the same key — the
    * minimal shuffle pair; no per-key event list is ever materialized.
    * The α = ½ truncation at k events bounds both the state and the
    * int64 magnitude (weights ≤ 2^(k−1); k ≤ 40 keeps milli-values ×
    * weights safely inside int64 for values < 10⁶).
    *
    * @return (userCol, n_recent, ewma_milli) per key, newest-first
    *         ordering by (tsCol desc, orderCol desc).
    */
  def ewmaRecent(df: DataFrame, userCol: String, tsCol: String,
                 orderCol: String, valCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 40, s"k=$k outside int64-safe dyadic range")
    OrderStats.topKPer(df.select(col(userCol), col(tsCol), col(orderCol),
          floor(col(valCol) * 1000).cast("long").as("v_milli")),
        col(userCol), k)(col(tsCol).desc, col(orderCol).desc)
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("n_recent"),
        sum(expr(s"v_milli * shiftleft(1L, CAST($k - rank AS INT))")).as("__s"),
        sum(expr(s"shiftleft(1L, CAST($k - rank AS INT))")).as("__w"))
      // dividing by the weights actually present (2^k − 2^(k−m)) keeps
      // the average unbiased for keys with fewer than k events
      .withColumn("ewma_milli", expr("__s div __w"))
      .select(col(userCol), col("n_recent"), col("ewma_milli"))
  }
}
