package graft.operators

import org.apache.spark.sql.SparkSession

/** The `graft.*` session conf keys, each declared ONCE with its default
  * and its check — the one schema every read goes through (the
  * reference's master-schema `checkHash`). A read fails with an
  * `IllegalArgumentException` naming any `graft.*` key set in the
  * session that is not declared here, so a typo or a retired key fails
  * loudly instead of leaving the default path selected; a value its
  * check rejects fails the same way, naming the key, the value and what
  * the key takes. */
private[graft] object GraftConf {

  final class Key[T] private[GraftConf] (val name: String, default: T,
                                          what: String,
                                          parse: String => Option[T]) {
    /** The session's value, `default` when unset. */
    def apply(spark: SparkSession): T = {
      refuseUndeclared(spark)
      spark.conf.getOption(name) match {
        case None => default
        case Some(s) => parse(s.trim).getOrElse(
          throw new IllegalArgumentException(
            s"$name must be $what, got '$s'"))
      }
    }

    /** Runs `body` with the key set to `value`, then restores the
      * caller's own value — or unsets the key if it had none — also
      * when `body` throws. */
    def withValue[R](spark: SparkSession, value: String)(body: => R): R = {
      val prior = spark.conf.getOption(name)
      spark.conf.set(name, value)
      try body
      finally prior match {
        case Some(v) => spark.conf.set(name, v)
        case None => spark.conf.unset(name)
      }
    }
  }

  /** Prior store versions each [[StoreSwap]] commit keeps. */
  val SnapshotKeep: Key[Int] = new Key("graft.store.snapshotKeep", 1,
    "a non-negative integer", _.toIntOption.filter(_ >= 0))
  /** Broadcast budget of the store PQ search's distance tables. */
  val PqMaxBroadcastMb: Key[Double] = new Key("graft.pq.maxBroadcastMb",
    64.0, "a positive number of MB", _.toDoubleOption.filter(_ > 0))
  /** Broadcast budget of a store judgment's delta band rows. */
  val LshMaxBroadcastMb: Key[Double] = new Key("graft.lsh.maxBroadcastMb",
    64.0, "a positive number of MB", _.toDoubleOption.filter(_ > 0))
  /** The band index's directory count; unset = derived from the corpus. */
  val BandIndexBuckets: Key[Option[Int]] = new Key(
    "graft.lsh.bandIndexBuckets", None, "a positive integer",
    _.toIntOption.filter(_ >= 1).map(Some(_)))
  /** The [[Lineage.cut]] mechanism. */
  val PlanCuts: Key[String] = new Key("graft.plan.cuts", "checkpoint",
    "checkpoint or off", Some(_).filter(Set("checkpoint", "off")))

  /** Every declared key name. */
  val declared: Seq[String] = Seq(SnapshotKeep, PqMaxBroadcastMb,
    LshMaxBroadcastMb, BandIndexBuckets, PlanCuts).map(_.name)

  private def refuseUndeclared(spark: SparkSession): Unit = {
    val unknown = spark.conf.getAll.keys
      .filter(k => k.startsWith("graft.") && !declared.contains(k))
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown graft conf key(s) ${unknown.toSeq.sorted.mkString(", ")};" +
        s" graft reads only ${declared.mkString(", ")}")
  }
}
