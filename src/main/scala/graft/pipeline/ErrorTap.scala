package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.AccumulatorV2
import scala.collection.mutable

/** A load's `_errors` sample, gathered inside the job that stores the
  * load: each task keeps the first [[ErrorSample.Size]] errors of its
  * partition, and the Spark driver keys them by partition index, so a re-run
  * task replaces its partition's errors instead of adding to them. The
  * value is the first [[ErrorSample.Size]] errors in partition order.
  * Only the first stage that taps the batch counts: a plan that reads the
  * batch twice (a small DeleteInsert batch's broadcast keys, then its
  * rows) reports each error once.
  *
  * The first severity-2 error a task sees fails it with [[Severity2Error]]:
  * the job stops before anything is committed. */
final class ErrorSample extends AccumulatorV2[String, Seq[String]] {
  // on the Spark driver: each tapped partition's first errors
  private val byPartition = mutable.TreeMap[Int, Vector[String]]()
  // task side: the stage and partition this copy taps; on the Spark
  // driver: the stage whose partitions `byPartition` holds
  private var stage = -1
  private var partition = -1
  private val taken = mutable.ArrayBuffer[String]()

  override def isZero: Boolean = byPartition.isEmpty && taken.isEmpty

  override def copy(): ErrorSample = {
    val c = new ErrorSample
    c.byPartition ++= byPartition
    c.stage = stage
    c
  }

  override def reset(): Unit = {
    byPartition.clear()
    taken.clear()
    stage = -1
    partition = -1
  }

  override def add(error: String): Unit = {
    if (partition < 0) {
      stage = TaskContext.get.stageId()
      partition = TaskContext.getPartitionId()
    }
    if (taken.size < ErrorSample.Size) taken += error
  }

  override def merge(other: AccumulatorV2[String, Seq[String]]): Unit = other match {
    case o: ErrorSample =>
      if (o.stage >= 0 && (stage < 0 || o.stage < stage)) { byPartition.clear(); stage = o.stage }
      if (o.stage == stage) {
        byPartition ++= o.byPartition
        if (o.partition >= 0) byPartition(o.partition) = o.taken.toVector
      }
    case _ => throw new UnsupportedOperationException(s"cannot merge ${other.getClass}")
  }

  override def value: Seq[String] =
    byPartition.valuesIterator.flatten.take(ErrorSample.Size).toSeq

  /** Tap one row's `_errors`: sample them, and fail the task on a
    * severity-2 error. */
  def observe(errors: ArrayData): Unit = {
    var i = 0
    while (i < errors.numElements()) {
      val e = errors.getUTF8String(i)
      if (e.startsWith(ErrorSample.Severity2)) throw new Severity2Error(e.toString)
      if (taken.size < ErrorSample.Size) add(e.toString)
      i += 1
    }
  }
}

object ErrorSample {
  /** Errors a load reports: the first ones in partition order. */
  val Size = 100

  private val Severity2 = UTF8String.fromString(SchemaCoercion.Severity2Prefix)

  /** `true` on every row, after `sample` has tapped the row's `errors`:
    * filter a plan by it to sample its error channel in the job that runs
    * the plan. */
  def tap(errors: Column, sample: ErrorSample): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(TapErrors(expression(errors), sample))
  }

  /** The severity-2 error that failed a job, if one did. */
  def severity2(failure: Throwable): Option[String] =
    Iterator.iterate(failure)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: Severity2Error => e.getMessage }
}

/** A severity-2 (load-aborting) error met while a job ran. */
final class Severity2Error(message: String) extends RuntimeException(message)

/** [[ErrorSample.tap]]'s expression. Nondeterministic, so the optimizer
  * keeps the filter where it is and never folds it away. */
case class TapErrors(child: Expression, sample: ErrorSample)
    extends UnaryExpression with Nondeterministic {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v != null) sample.observe(v.asInstanceOf[ArrayData])
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("errorSample", sample)
    val errors = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${errors.code}
        if (!${errors.isNull}) $ref.observe(${errors.value});
        final boolean ${ev.value} = true;
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
