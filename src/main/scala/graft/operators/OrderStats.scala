package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exact order statistics without Spark's `percentile` aggregate.
  *
  * `percentile` buffers every distinct value of a group in one aggregation
  * buffer merged on a single reducer — with near-continuous doubles at
  * 100 TB that buffer is the whole group and the reducer OOMs. This
  * operator computes the same interpolated percentile from order
  * statistics instead:
  *
  *  1. rank rows per group with a window (`row_number` — an external sort
  *     that spills, never an in-memory map);
  *  2. count rows per group (map-side partial agg, tiny result, broadcast
  *     back);
  *  3. pick the floor/ceil-rank rows per requested fraction inside a
  *     regular hash aggregation and interpolate.
  *
  * The window shuffle on the group key is the only full-data shuffle; the
  * final groupBy reuses its partitioning (no second exchange), so the
  * plan survives a 100× scale-up with bounded per-task memory.
  *
  * Interpolation mirrors Spark's `Percentile.getPercentile` double
  * arithmetic — `(hi - pos)·v_lo + (pos - lo)·v_hi`, degenerate case
  * `pos` integral → `v_lo` — which is also DuckDB `quantile_cont`'s
  * formula, keeping results bit-exact across engines.
  */
object OrderStats {

  /** PRODUCTION ENTRY — exact interpolated percentiles per group,
    * routed to the histogram-refinement implementation
    * ([[exactPercentilesBinned]]). The routing decision is measured,
    * not assumed: binned wins at BOTH ends of the local scale ladder
    * (sf0.1: 5.2 s vs 8.6 s; sf10: 44.9 s vs 208.3 s — PercentileProbe,
    * round 11) because it replaces the full per-group external sort
    * with two bounded hash aggregations plus candidate-bin-only sorts,
    * and its 100×-data ratio is ~8.7× where the sort path's is ~58×.
    * Results are bit-identical to [[exactPercentiles]] (same
    * interpolation expression over the same order statistics —
    * OrderStatsSpec proves equality on adversarial shapes, and gates
    * q34/q219 share one DuckDB `quantile_cont` oracle); the sort-based
    * variant stays public as the differential cross-check twin.
    *
    * @param specs (outputColumn, valueColumn, fraction) triples; value
    *              columns may repeat with different fractions.
    * @return one row per group: groupCols ++ specs' output columns
    *         (double).
    */
  def percentiles(df: DataFrame, groupCols: Seq[String],
                  specs: Seq[(String, String, Double)],
                  nBins: Int = 1024): DataFrame =
    exactPercentilesBinned(df, groupCols, specs, nBins)

  /** Exact interpolated percentiles per group via a full per-group
    * window sort — the DIFFERENTIAL TWIN of the production entry
    * [[percentiles]] (gate q34 keeps it honest against the same oracle
    * the binned path shares): simpler plan, one shuffle, but the sort
    * is the measured wall at the 100× tier (~58× wall for 100× data vs
    * the binned path's ~8.7×) — prefer [[percentiles]] in pipelines.
    *
    * @param specs (outputColumn, valueColumn, fraction) triples; value
    *              columns may repeat with different fractions.
    * @return one row per group: groupCols ++ specs' output columns
    *         (double).
    */
  def exactPercentiles(df: DataFrame, groupCols: Seq[String],
                       specs: Seq[(String, String, Double)]): DataFrame = {
    val g = groupCols.map(col)
    val valueCols = specs.map(_._2).distinct
    // one row_number per distinct value column; same partitioning → one
    // exchange, one extra sort per ordering
    val ranked = valueCols.foldLeft(
        df.select((groupCols ++ valueCols).distinct.map(col): _*)) {
      (d, vc) =>
        d.withColumn(s"__rn_$vc", row_number().over(
          Window.partitionBy(g: _*).orderBy(col(vc))))
    }
    val counts = df.groupBy(g: _*).agg(count(lit(1)).as("__n"))
    val withN = ranked.join(broadcast(counts), groupCols)
    val aggExprs = specs.flatMap { case (name, vc, p) =>
      val pos = lit(p) * (col("__n") - 1).cast("double")
      val rn = col(s"__rn_$vc") - 1 // 0-based rank, comparable to floor/ceil(pos)
      Seq(
        max(when(rn === floor(pos), col(vc).cast("double"))).as(s"__lo_$name"),
        max(when(rn === ceil(pos), col(vc).cast("double"))).as(s"__hi_$name"),
        first(pos).as(s"__pos_$name"))
    }
    val agged = withN.groupBy(g: _*).agg(aggExprs.head, aggExprs.tail: _*)
    val withValues = specs.foldLeft(agged) { case (d, (name, _, _)) =>
      val pos = col(s"__pos_$name")
      val lo = floor(pos)
      val hi = ceil(pos)
      d.withColumn(name,
        when(lo === hi, col(s"__lo_$name"))
          .otherwise((hi.cast("double") - pos) * col(s"__lo_$name") +
                     (pos - lo.cast("double")) * col(s"__hi_$name")))
    }
    withValues.select(g ++ specs.map(s => col(s._1)): _*)
  }

  /** [[exactPercentiles]] by HISTOGRAM REFINEMENT — the bounded-memory
    * variant for the 100 TB shape where even an external sort of the
    * full data per group is the dominant cost (q34's sf10 record:
    * sort-bound, ~58× wall for 100× data):
    *
    *  1. one hash aggregation computes per-group counts and per-value
    *     min/max (bounded state, no sort);
    *  2. one slim hash aggregation per value column counts rows per
    *     (group, bin) over `nBins` equal-width bins — still no sort,
    *     still bounded state;
    *  3. cumulative bin counts (a window over ≤ nBins rows per group —
    *     trivially small) locate, for every requested rank (floor and
    *     ceil of each fraction's position), the ONE bin holding it and
    *     the rank's offset within that bin;
    *  4. only the needed (group, bin) slices — ~1/nBins of the data per
    *     requested rank — are sorted (`row_number` within the slice) to
    *     read the exact value at the offset.
    *
    * The full data is scanned twice and shuffled twice per value column
    * but never fully sorted; the only sorts run inside the candidate
    * bins. Results are the exact order statistics, so the interpolation
    * (same expression order as [[exactPercentiles]]) is bit-identical —
    * the gate shares q34's DuckDB `quantile_cont` oracle.
    *
    * Worst case: a group whose values are all equal collapses into one
    * bin and step 4 "sorts" that whole group — but every row ties, so
    * the sort does no reordering work and any offset reads the value.
    * Heavily duplicated values concentrate their duplicates in one bin
    * (a value maps to exactly one bin), so a needed slice can hold up
    * to the duplicate count of one value plus its bin's neighbors —
    * the per-slice sort stays spillable and partition-local. Nulls in
    * value columns must be pre-filtered (same contract as
    * [[exactPercentiles]]). */
  def exactPercentilesBinned(df: DataFrame, groupCols: Seq[String],
                             specs: Seq[(String, String, Double)],
                             nBins: Int = 1024): DataFrame = {
    require(nBins > 0, s"need nBins > 0, got $nBins")
    val g = groupCols.map(col)
    val valueCols = specs.map(_._2).distinct
    val base = df.select((groupCols ++ valueCols).distinct.map(col): _*)
    val statAggs = Seq(count(lit(1)).as("__n")) ++ valueCols.flatMap { vc =>
      Seq(min(col(vc).cast("double")).as(s"__mn_$vc"),
        max(col(vc).cast("double")).as(s"__mx_$vc"))
    }
    val stats = base.groupBy(g: _*).agg(statAggs.head, statAggs.tail: _*)
      .localCheckpoint(true) // one row per group — bounded model state
    // per value column: needed ranks → (bin, offset) through the
    // cumulative bin histogram, then the exact value from the slice
    val valueOf: Map[String, DataFrame] = valueCols.map { vc =>
      val mn = col(s"__mn_$vc")
      val mx = col(s"__mx_$vc")
      def binOf(v: Column): Column =
        when(mx === mn, lit(0L)).otherwise(
          least(greatest(
            floor((v.cast("double") - mn) * lit(nBins.toDouble) / (mx - mn)),
            lit(0.0)), lit((nBins - 1).toDouble)).cast("long"))
      val withStats = base.join(broadcast(stats), groupCols)
      val hist = withStats
        .groupBy(g :+ binOf(col(vc)).as("__bin"): _*)
        .agg(count(lit(1)).as("__c"))
      val wCum = Window.partitionBy(g: _*).orderBy(col("__bin"))
      val cum = hist.withColumn("__start",
        coalesce(sum(col("__c")).over(wCum) - col("__c"), lit(0L)))
      // the ranks this value column owes: floor(pos) and ceil(pos) of
      // every spec over it (0-based; pos = p·(n−1))
      val ranks = specs.filter(_._2 == vc).flatMap { case (_, _, p) =>
        val pos = lit(p) * (col("__n") - 1).cast("double")
        Seq(floor(pos).cast("long"), ceil(pos).cast("long"))
      }
      val needs = stats
        .select((g :+ col("__n") :+
          explode(array_distinct(array(ranks: _*))).as("__rank")): _*)
        .select(g :+ col("__rank"): _*)
      // locate each rank's bin and in-bin offset (≤ nBins rows per
      // group on the cum side — the join is bounded model state)
      val located = needs.join(cum, groupCols)
        .filter(col("__rank") >= col("__start") &&
          col("__rank") < col("__start") + col("__c"))
        .select(g :+ col("__rank") :+ col("__bin") :+
          (col("__rank") - col("__start")).as("__off"): _*)
        .localCheckpoint(true) // ≤ 2·|specs| rows per group
      // sort ONLY the needed slices: semi-join to the needed bins, rank
      // within (group, bin), read the offsets
      val slice = withStats
        .withColumn("__bin", binOf(col(vc)))
        .join(located.select(g :+ col("__bin"): _*).distinct(),
          groupCols :+ "__bin")
      val wSlice = Window.partitionBy(g :+ col("__bin"): _*)
        .orderBy(col(vc))
      val vals = slice
        .withColumn("__rn", row_number().over(wSlice) - 1)
        .join(located, groupCols :+ "__bin")
        .filter(col("__rn") === col("__off"))
        .select(g :+ col("__rank") :+ col(vc).cast("double").as("__v"): _*)
        // ≤ 2·|specs| rows per group, but the subtree behind them is the
        // candidate-bin scan+sort this operator exists to minimize — and
        // it is referenced twice per spec (lo/hi). Materialize once so
        // the cost is deterministic, not an exchange-reuse heuristic.
        .localCheckpoint(true)
      vc -> vals
    }.toMap
    // stitch: per spec, the lo/hi rank values + interpolation (same
    // expression order as exactPercentiles → bit-identical results)
    val enriched = specs.foldLeft(stats.select(g :+ col("__n"): _*)) {
      case (acc, (name, _, p)) =>
        val pos = lit(p) * (col("__n") - 1).cast("double")
        acc.withColumn(s"__pos_$name", pos)
          .withColumn(s"__lork_$name", floor(pos).cast("long"))
          .withColumn(s"__hirk_$name", ceil(pos).cast("long"))
    }
    val out = specs.foldLeft(enriched) { case (acc, (name, vc, _)) =>
      val vlo = valueOf(vc)
        .toDF(groupCols ++ Seq(s"__lork_$name", s"__lo_$name"): _*)
      val vhi = valueOf(vc)
        .toDF(groupCols ++ Seq(s"__hirk_$name", s"__hi_$name"): _*)
      acc.join(vlo, groupCols :+ s"__lork_$name", "left")
        .join(vhi, groupCols :+ s"__hirk_$name", "left")
    }
    val withValues = specs.foldLeft(out) { case (d, (name, _, _)) =>
      val pos = col(s"__pos_$name")
      val lo = floor(pos)
      val hi = ceil(pos)
      d.withColumn(name,
        when(lo === hi, col(s"__lo_$name"))
          .otherwise((hi.cast("double") - pos) * col(s"__lo_$name") +
                     (pos - lo.cast("double")) * col(s"__hi_$name")))
    }
    withValues.select(g ++ specs.map(s => col(s._1)): _*)
  }

  /** Single-pass histogram quantile ESTIMATE per group — the bounded-state
    * complement to [[exactPercentiles]]: one shuffle on (group, bin), a
    * fixed `nBins`-row state per group regardless of group size, and the
    * per-(group, bin) counts are a mergeable sketch (union = add counts)
    * storable across incremental loads. Error is bounded by the bin width
    * `(hi-lo)/nBins`; the estimate returned is the upper edge of the first
    * bin whose cumulative count reaches the fraction.
    *
    * Values below `lo` / above `hi` clamp into the edge bins. All
    * arithmetic is plain IEEE double in an exactly mirrorable expression
    * order (`floor((v - lo) * nBins / (hi - lo))`), so a SQL engine
    * replays the sketch bit-for-bit — which is how the q78 gate verifies
    * it.
    *
    * @param fractions (outputColumn, fraction) pairs.
    */
  def histQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                    lo: Double, hi: Double, nBins: Int,
                    fractions: Seq[(String, Double)]): DataFrame = {
    require(nBins > 0 && hi > lo, s"need nBins > 0 and hi > lo, got $nBins, [$lo, $hi]")
    val g = groupCols.map(col)
    val bin = least(greatest(
      floor((col(valueCol).cast("double") - lit(lo)) * lit(nBins.toDouble) / lit(hi - lo)),
      lit(0.0)), lit((nBins - 1).toDouble)).cast("long")
    val counts = df.groupBy(g :+ bin.as("__bin"): _*).agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(g: _*).orderBy(col("__bin"))
    val wAll = Window.partitionBy(g: _*)
    val cum = counts
      .withColumn("__cum", sum(col("__c")).over(wCum).cast("double"))
      .withColumn("__tot", sum(col("__c")).over(wAll).cast("double"))
    val aggs = fractions.map { case (name, f) =>
      min(when(col("__cum") >= lit(f) * col("__tot"),
        lit(lo) + (col("__bin") + 1).cast("double") * lit(hi - lo) / lit(nBins.toDouble)))
        .as(name)
    }
    cum.groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The top-k kernel every "k best rows per group" operator runs: one
    * `row_number` window partitioned by `by` (a `struct` of columns
    * partitions by several), ordered by `order` (which
    * must end in a unique tie-break for a deterministic result), and one
    * `rank <= k` filter. Adds the long rank column `rankCol` (1-based)
    * and keeps every input column. The filter sits directly on the
    * window, so Spark plans a `WindowGroupLimit` below the window
    * exchange and each task keeps at most k rows per group before the
    * sort.
    *
    * @throws IllegalArgumentException when k < 1, or when `df` already
    *         has a column named `rankCol` */
  private[operators] def topKPer(df: DataFrame, by: Column, k: Int,
                                 rankCol: String = "rank")(
      order: Column*): DataFrame = {
    if (k < 1)
      throw new IllegalArgumentException(s"topKPer: k must be >= 1, got $k")
    if (df.columns.contains(rankCol))
      throw new IllegalArgumentException(s"topKPer: the input already has" +
        s" a column `$rankCol`; name the rank column something else")
    df.withColumn(rankCol,
        row_number().over(Window.partitionBy(by).orderBy(order: _*))
          .cast("long"))
      .filter(col(rankCol) <= k)
  }
}
