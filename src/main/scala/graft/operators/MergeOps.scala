package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Set-oriented re-expression of the reference's row-at-a-time sink
  * conflict strategies (SURVEY.md §2.5 K3-K6, §4.2):
  * `/root/reference/Wrap/DB.pm:337-412` decides insert/update/delete per
  * row in statement order; the distributed contract is **last-row-wins per
  * key, resolved by an explicit ordering column** — one shuffle on the key,
  * no driver round-trips, scales linearly with input.
  */
object MergeOps {

  /** Reject an ordering column tagged as a split-order surrogate
    * ([[graft.sources.TextSource.OrderSurrogateKey]]): last-wins resolved
    * against it would silently vary with split planning. Called by both
    * table sinks before Upsert resolution. */
  def requireExactOrder(df: DataFrame, ordCol: String): Unit =
    df.schema.fields.find(_.name == ordCol).foreach { f =>
      val key = graft.sources.TextSource.OrderSurrogateKey
      require(!(f.metadata.contains(key) && f.metadata.getBoolean(key)),
        s"'$ordCol' is a split-order surrogate (splittable CSV path); " +
          "Upsert last-wins needs exact file order — read with " +
          "TextSource.read, supply an explicit ordering column, or use " +
          "Append/DeleteInsert")
    }

  /** Upsert with last-wins semantics (`upsert`, `Wrap/DB.pm:386-412`):
    * `base` plays the target table, `updates` the incoming batch; within the
    * union, the row with the highest `ord` per key survives (statement order
    * = file order in the reference; ties broken deterministically by `ord`
    * descending). Both inputs must share a schema plus the `ord` column. */
  def upsertLastWins(base: DataFrame, updates: DataFrame, keys: Seq[String], ord: String): DataFrame = {
    val staged = base.unionByName(updates)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ord).desc)
    staged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", ord)
  }

  /** Incremental upsert (`incrementalStore` + `upsert`,
    * `Wrap/DB.pm:318,386-412`): like [[upsertLastWins]], but a NULL field
    * on an incoming row leaves the previous value for that column intact —
    * the reference simply omits undef fields from the per-row statement.
    * Resolved per COLUMN, not per row: each column's final value is its
    * last NON-NULL occurrence across target (oldest) then batch in `ord`
    * order. One shuffle on the key; both window functions share the same
    * frame, so Catalyst plans a single exchange + sort. */
  def upsertIncremental(base: DataFrame, updates: DataFrame, keys: Seq[String],
                        ord: String): DataFrame = {
    val staged = base.unionByName(updates)
    val valueCols = staged.columns.filterNot(c => keys.contains(c) || c == ord)
    val frame = Window.partitionBy(keys.map(col): _*).orderBy(col(ord))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wLatest = Window.partitionBy(keys.map(col): _*).orderBy(col(ord).desc)
    val filled = valueCols.foldLeft(staged) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(frame))
    }
    filled.withColumn("__rn", row_number().over(wLatest))
      .filter(col("__rn") === 1)
      .drop("__rn", ord)
  }

  /** Insert-ignoring-duplicates (`ignoreDuplicateErrs`,
    * `Wrap/DB.pm:403`): append only rows whose key is absent from the
    * target; within the batch the FIRST occurrence per key wins (the
    * reference inserts it, then swallows the later rows' duplicate-key
    * errors). `ord` resolves batch order; rows never update existing
    * target rows. */
  def insertIgnoreDups(target: DataFrame, incoming: DataFrame,
                       keys: Seq[String], ord: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ord))
    val firstWins = incoming.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", ord)
    target.unionByName(
      firstWins.join(target.select(keys.map(col): _*).distinct(),
        keys, "left_anti"))
  }

  /** Delete-before-insert (`deleteBeforeInsertSelector`,
    * `Wrap/DB.pm:337-347`): drop target rows whose key appears in the
    * incoming batch, then append the batch. A NULL key part never
    * matches. The plan follows the batch's estimated size:
    *  - keys small enough to broadcast: anti join + union. The target is
    *    scanned without a shuffle; a batch that is a lazy parse (a load)
    *    is parsed twice, which costs about the batch's size.
    *  - otherwise, where the anti join would shuffle the target anyway:
    *    one window over the union of target and batch, keyed like the
    *    join. A target row survives unless its window holds an incoming
    *    row, so the batch is read once, in the same shuffle. */
  def deleteInsert(target: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val incomingKeys = incoming.select(keys.map(col): _*).distinct()
    val threshold = incoming.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold >= 0 &&
        incomingKeys.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold)
      target.join(incomingKeys, keys, "left_anti").unionByName(incoming)
    else {
      val staged = target.withColumn("__incoming", lit(false))
        .unionByName(incoming.withColumn("__incoming", lit(true)))
      val nullKey = keys.map(col(_).isNull).reduce(_ || _)
      staged.withColumn("__hit", max(col("__incoming")).over(Window.partitionBy(keys.map(col): _*)))
        .filter(col("__incoming") || nullKey || !col("__hit"))
        .drop("__incoming", "__hit")
    }
  }

  /** Update-only merge (`updateInDB`, `Wrap/DB.pm:453-508`): overwrite the
    * listed value columns for target rows whose key appears in `updates`;
    * rows without a match keep their values; update rows without a target
    * row are dropped (UPDATE affects 0 rows). Duplicate update keys
    * resolve last-wins by `ordCol` when given (statement order, like the
    * reference's per-row loop); otherwise an arbitrary-but-single row is
    * kept so the join can't explode the target. */
  def updateOnly(target: DataFrame, updates: DataFrame, keys: Seq[String],
                 valueCols: Seq[String], ordCol: Option[String] = None): DataFrame = {
    val deduped = ordCol match {
      case Some(o) =>
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col(o).desc)
        updates.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", o)
      case None => updates.dropDuplicates(keys)
    }
    val renamed = valueCols.foldLeft(deduped.select((keys ++ valueCols).map(col): _*)) {
      case (df, c) => df.withColumnRenamed(c, s"__u_$c")
    }
    val joined = target.join(renamed, keys, "left")
    val projected = target.columns.map { c =>
      if (valueCols.contains(c)) coalesce(col(s"__u_$c"), col(c)).as(c) else col(c)
    }
    joined.select(projected.toIndexedSeq: _*)
  }

  /** Keyed delete (`deleteFromDB`, `Wrap/DB.pm:423-450`). */
  def deleteByKey(target: DataFrame, deletes: DataFrame, keys: Seq[String]): DataFrame =
    target.join(deletes.select(keys.map(col): _*).distinct(), keys, "left_anti")
}
