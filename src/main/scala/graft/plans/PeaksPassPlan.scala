package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

import graft.calc.PeaksPass

/** The W11 peak/valley flag pass as a NATIVE Catalyst operator — same tier
  * and same rationale as [[IndicatorPassPlan]]: the old Dataset
  * mapPartitions route paid the generic external-Row encoder on both sides
  * of the kernel (deserialize every ~28-column candle row to a
  * GenericRowWithSchema, re-validate and re-serialize after appending 6
  * ints), and, because mapPartitions erases partitioning info, the
  * (symbol, chunk) windows immediately downstream re-exchanged AND
  * re-sorted the whole frame. This node consumes the sort's InternalRows
  * directly, emits through one codegen'd [[UnsafeProjection]] over a
  * [[JoinedRow]], and DECLARES its distribution/ordering — so the planner
  * inserts one exchange+sort and downstream (symbol, chunk) windows reuse
  * it instead of adding their own.
  *
  * Unlike the streaming H-state kernel, find_peaks is inherently
  * whole-group (prominence is a two-sided unbounded scan), so each
  * (symbol[, extraGroupCols]) group IS buffered — the reference has the
  * same shape per 30-day chunk (candle_to_calcs.py:528-558), which is
  * exactly why the group key must include a time chunk at scale: it bounds
  * the buffered group, and the flags near chunk edges match the
  * reference's own chunked output.
  *
  * With `anchors` set the node runs in its anchor-emitting mode
  * ([[AnchorEmit]]): the output is the W14 snapshot rows alone, not the
  * flagged input rows.
  */
final case class PeaksPassPlan(
    child: LogicalPlan,
    extraGroupCols: Seq[String],
    outAttrs: Seq[Attribute],
    anchors: Option[AnchorEmit] = None) extends UnaryNode {

  override def output: Seq[Attribute] =
    if (anchors.isEmpty) child.output ++ outAttrs else outAttrs

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(outAttrs)

  /** Pass-through of the entire child row — column pruning must not strip
    * the child below this node.
    */
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet

  override protected def withNewChildInternal(newChild: LogicalPlan): PeaksPassPlan =
    copy(child = newChild)
}

object PeaksPassPlan {
  /** Fresh output attributes for one node instance (stable exprIds). */
  def mkOutAttrs: Seq[Attribute] =
    PeaksPass.peakFields.map(f =>
      AttributeReference(f.name, f.dataType, nullable = false)())
}

/** Plans [[PeaksPassPlan]] → [[PeaksPassExec]]. Injected via
  * `SparkSessionExtensions.injectPlannerStrategy` (GraftSession).
  */
object PeaksPassStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PeaksPassPlan(child, extraGroupCols, outAttrs, anchors) =>
      PeaksPassExec(planLater(child), extraGroupCols, outAttrs, anchors) :: Nil
    case _ => Nil
  }
}

final case class PeaksPassExec(
    child: SparkPlan,
    extraGroupCols: Seq[String],
    outAttrs: Seq[Attribute],
    anchors: Option[AnchorEmit]) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (anchors.isEmpty) child.output ++ outAttrs else outAttrs

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(outAttrs)

  private def attr(name: String): Attribute =
    child.output.find(_.name == name).getOrElse(
      throw new IllegalStateException(s"PeaksPassExec child lacks column '$name'"))

  private def groupKeys: Seq[Attribute] = attr("symbol") +: extraGroupCols.map(attr)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((groupKeys :+ attr("timestamp")).map(SortOrder(_, Ascending)))

  /** Flag mode is a flat append: the child's (group, timestamp) exchange
    * and sort survive, so downstream (symbol, chunk) windows skip both.
    * Anchor rows drop the group columns, so they promise neither.
    */
  override def outputPartitioning: Partitioning =
    if (anchors.isEmpty) child.outputPartitioning
    else UnknownPartitioning(child.outputPartitioning.numPartitions)

  override def outputOrdering: Seq[SortOrder] =
    if (anchors.isEmpty) child.outputOrdering else Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val iH = childOutput.indexWhere(_.name == "high")
    val iL = childOutput.indexWhere(_.name == "low")
    val keys = groupKeys
    val resultExprs = output
    val joinedSchema = childOutput ++ outAttrs
    val nOut = outAttrs.length
    val outTypes = outAttrs.map(_.dataType)
    val spec = anchors

    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      val emit: (ArrayBuffer[InternalRow], Array[Array[Int]]) => Iterator[InternalRow] =
        spec match {
          case Some(a) => new AnchorEmitter(childOutput, a, outTypes).emit
          case None =>
            val project = UnsafeProjection.create(resultExprs, joinedSchema)
            val join = new JoinedRow
            val flagVals = new Array[Any](nOut)
            val flagRow = new GenericInternalRow(flagVals)
            (rows, fl) => {
              var i = -1
              rows.iterator.map { r =>
                i += 1
                var j = 0
                while (j < nOut) { flagVals(j) = fl(j)(i); j += 1 }
                project(join(r, flagRow))
              }
            }
        }
      PeaksPassExec.sortedGroups(iter, keyProj).flatMap { rows =>
        emit(rows, PeaksPass.flags(Array.tabulate(rows.length)(rows(_).getDouble(iH)),
          Array.tabulate(rows.length)(rows(_).getDouble(iL))))
      }
    }, preservesPartitioning = spec.isEmpty)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PeaksPassExec =
    copy(child = newChild)
}

object PeaksPassExec {
  /** Buffers each run of equal group keys of a key-sorted partition, one
    * group at a time (rows copied).
    */
  private def sortedGroups(iter: Iterator[InternalRow],
                           keyProj: UnsafeProjection): Iterator[ArrayBuffer[InternalRow]] =
    new Iterator[ArrayBuffer[InternalRow]] {
      private var pending: InternalRow = null

      override def hasNext: Boolean = pending != null || iter.hasNext

      override def next(): ArrayBuffer[InternalRow] = {
        val first = if (pending != null) pending else iter.next().copy()
        pending = null
        val key: UnsafeRow = keyProj(first).copy()
        val rows = ArrayBuffer(first)
        while (pending == null && iter.hasNext) {
          val r = iter.next()
          if (keyProj(r) == key) rows += r.copy() else pending = r.copy()
        }
        rows
      }
    }
}
