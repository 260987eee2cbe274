package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, If, IsNaN, JoinedRow, Literal, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, OrderedDistribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, MapType, StructType}

import graft.calc.{IndicatorPass, PeaksPass}

/** graft's native Catalyst operator: one logical node, one exec
  * ([[NativePassExec]]) and one strategy ([[NativePassStrategy]]) for every
  * [[PassKernel]] — the H-family indicator pass, the peaks/W14 anchor pass
  * and the suffix array's global index and global rank. `nodeName` is the
  * kernel's name, so plans read `IndicatorPass`, `PeaksPass`, `GlobalIndex`
  * and `GlobalRank`.
  *
  * Why a plan node and not `mapPartitions`: the Dataset route pays the
  * generic external-Row encoder on both sides of the kernel (measured at
  * sf1 for the H-pass: 23.2 s materialized vs 3.8 s with the encoder
  * column-pruned away), and it erases partitioning, so a downstream window
  * on the same keys re-exchanges and re-sorts. The exec consumes the sort's
  * InternalRows directly and emits through one codegen'd projection over a
  * [[JoinedRow]] ([[Appender]]). Distribution and ordering are declared by
  * the kernel, so EnsureRequirements plans the exchange and sort, AQE sizes
  * it, and a child already partitioned on the keys skips the shuffle.
  */
final case class NativePass(child: LogicalPlan, kernel: PassKernel, appended: Seq[Attribute])
    extends UnaryNode {

  override def nodeName: String = kernel.name

  override def output: Seq[Attribute] = kernel.passThrough(child.output) ++ appended

  /** The appended columns originate here — without this, CheckAnalysis
    * counts them as unresolved references missing from the child.
    */
  override def producedAttributes: AttributeSet = AttributeSet(appended)

  /** The kernel consumes the entire child row, so column pruning must not
    * strip the child below this node.
    */
  override def references: AttributeSet = child.outputSet

  override protected def withNewChildInternal(newChild: LogicalPlan): NativePass =
    copy(child = newChild)
}

object NativePass {
  /** `df` through `kernel`, with fresh output attributes for this node. */
  def over(df: DataFrame, kernel: PassKernel): DataFrame = {
    val child = PlanBridge.analyzed(df)
    PlanBridge.ofRows(df.sparkSession, NativePass(child, kernel, kernel.appended(child.output)))
  }

  /** Position of the input column `name`; a frame lacking it fails here. */
  def ordinal(in: Seq[Attribute], name: String): Int = {
    val i = in.indexWhere(_.name == name)
    if (i < 0) throw new IllegalStateException(s"native pass input lacks column '$name'")
    i
  }

  def column(in: Seq[Attribute], name: String): Attribute = in(ordinal(in, name))
}

/** Plans [[NativePass]] → [[NativePassExec]]. Injected via
  * `SparkSessionExtensions.injectPlannerStrategy` (GraftSession).
  */
object NativePassStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case NativePass(child, kernel, appended) =>
      NativePassExec(planLater(child), kernel, appended) :: Nil
    case _ => Nil
  }
}

final case class NativePassExec(child: SparkPlan, kernel: PassKernel, appended: Seq[Attribute])
    extends UnaryExecNode {

  override def nodeName: String = kernel.name

  override def output: Seq[Attribute] = kernel.passThrough(child.output) ++ appended

  override def producedAttributes: AttributeSet = AttributeSet(appended)

  private def column(name: String): Attribute = NativePass.column(child.output, name)

  override def requiredChildDistribution: Seq[Distribution] = kernel.distribution(column) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(kernel.ordering(column))

  override def outputPartitioning: Partitioning =
    kernel.outputPartitioning(child.outputPartitioning)

  override def outputOrdering: Seq[SortOrder] =
    kernel.outputOrdering(child.outputOrdering, appended)

  override protected def doExecute(): RDD[InternalRow] =
    kernel.execute(child.execute(), PassSchema(child.output, output, appended))

  override protected def withNewChildInternal(newChild: SparkPlan): NativePassExec =
    copy(child = newChild)
}

/** The columns a pass reads and writes, shipped to its tasks. */
private[plans] final case class PassSchema(child: Seq[Attribute], output: Seq[Attribute],
                                           appended: Seq[Attribute]) {
  def ordinal(name: String): Int = NativePass.ordinal(child, name)

  def column(name: String): Attribute = child(ordinal(name))
}

/** Emits a child row joined with the values a kernel wrote into `values`,
  * projected to the node's output by one codegen'd [[UnsafeProjection]]
  * (the WindowExec emission pattern). One per task.
  */
private[plans] final class Appender(s: PassSchema) {
  val values = new Array[Any](s.appended.length)
  private val extra = new GenericInternalRow(values)
  private val join = new JoinedRow
  private val project = UnsafeProjection.create(s.output, s.child ++ s.appended)

  def apply(r: InternalRow): InternalRow = project(join(r, extra))
}

/** A key-sorted partition walked row by row, marking where each run of
  * equal keys begins. Keys are compared as projected UnsafeRows, byte for
  * byte, so a null key is a run of its own like any other value.
  */
private[plans] final class KeyRuns(rows: Iterator[InternalRow], keys: Seq[Expression],
                                   in: Seq[Attribute]) extends Iterator[InternalRow] {
  private val proj = UnsafeProjection.create(keys, in)
  private var cur: UnsafeRow = null
  private var started = false
  private var i = -1L

  /** The current run's key (an owned copy). */
  def key: UnsafeRow = cur

  /** Whether the row last returned began a new run. */
  def runStart: Boolean = started

  /** The partition-local 0-based position of the row last returned. */
  def index: Long = i

  override def hasNext: Boolean = rows.hasNext

  override def next(): InternalRow = {
    val r = rows.next()
    val k = proj(r)
    started = cur == null || k != cur
    if (started) cur = k.copy()
    i += 1
    r
  }

  /** The runs themselves, one buffered run at a time (rows copied). */
  def groups: Iterator[ArrayBuffer[InternalRow]] = new Iterator[ArrayBuffer[InternalRow]] {
    private var pending: InternalRow = null

    override def hasNext: Boolean = pending != null || rows.hasNext

    override def next(): ArrayBuffer[InternalRow] = {
      val run = ArrayBuffer(if (pending != null) pending else KeyRuns.this.next().copy())
      pending = null
      while (pending == null && rows.hasNext) {
        val r = KeyRuns.this.next().copy()
        if (started) pending = r else run += r
      }
      run
    }
  }
}

/** What one [[NativePass]] computes. The node handles the plumbing; a kernel
  * supplies its output columns, its required distribution and ordering,
  * which child partitioning and ordering survive, and its compute.
  */
sealed trait PassKernel extends Product with Serializable {
  def name: String

  /** The child columns kept in the output, ahead of the appended ones. */
  def passThrough(child: Seq[Attribute]): Seq[Attribute] = child

  /** Fresh appended attributes for one node instance (stable exprIds). */
  def appended(child: Seq[Attribute]): Seq[Attribute]

  def distribution(column: String => Attribute): Distribution

  def ordering(column: String => Attribute): Seq[SortOrder]

  def outputPartitioning(child: Partitioning): Partitioning = child

  def outputOrdering(child: Seq[SortOrder], appended: Seq[Attribute]): Seq[SortOrder] = child

  private[plans] def execute(rows: RDD[InternalRow], s: PassSchema): RDD[InternalRow]
}

object PassKernel {

  /** A per-series kernel: the child is hash-clustered on `groupCols` and
    * each group arrives time-sorted.
    */
  sealed abstract class Series extends PassKernel {
    def groupCols: Seq[String]

    override def distribution(column: String => Attribute): Distribution =
      ClusteredDistribution(groupCols.map(column))

    override def ordering(column: String => Attribute): Seq[SortOrder] =
      (groupCols :+ "timestamp").map(c => SortOrder(column(c), Ascending))
  }

  /** A global-order kernel: the child is range-partitioned and sorted on
    * `keyCols`, so equal keys are contiguous across partitions too.
    */
  sealed abstract class Global extends PassKernel {
    def keyCols: Seq[String]

    override def distribution(column: String => Attribute): Distribution =
      OrderedDistribution(ordering(column))

    override def ordering(column: String => Attribute): Seq[SortOrder] =
      keyCols.map(c => SortOrder(column(c), Ascending))
  }

  /** The H-family pass (reference: candle_to_calcs.py:381-515): a
    * per-(symbol[, bucket]) time-ordered state machine appending the 20
    * indicator columns, plus the 59 CDL patterns and candle_pattern_sum when
    * `patterns`. Bucketed children carry (`__b`, `__w`) as their last two
    * columns: warm-up rows (`__w`) replay into the state but are not
    * emitted, and both columns are dropped from the output.
    */
  final case class Indicators(patterns: Boolean, bucketed: Boolean) extends Series {
    override def name: String = "IndicatorPass"

    override def groupCols: Seq[String] = if (bucketed) Seq("symbol", "__b") else Seq("symbol")

    override def passThrough(child: Seq[Attribute]): Seq[Attribute] =
      if (bucketed) child.dropRight(2) else child

    override def appended(child: Seq[Attribute]): Seq[Attribute] =
      (IndicatorPass.indicatorFields ++ (if (patterns) IndicatorPass.patternFields else Nil))
        .map(f => AttributeReference(f.name, f.dataType, nullable = false)())

    /** Flat mode keeps the child's (symbol, timestamp) sort for downstream
      * windows; bucketed mode drops `__b`, invalidating it.
      */
    override def outputOrdering(child: Seq[SortOrder], appended: Seq[Attribute]): Seq[SortOrder] =
      if (bucketed) Nil else child

    override private[plans] def execute(rows: RDD[InternalRow], s: PassSchema): RDD[InternalRow] = {
      val Seq(iO, iH, iL, iC) = Seq("open", "high", "low", "close").map(s.ordinal)
      val iW = if (bucketed) s.ordinal("__w") else -1
      val keys = groupCols.map(s.column)
      rows.mapPartitions({ iter =>
        val runs = new KeyRuns(iter, keys, s.child)
        val out = new Appender(s)
        var st: IndicatorPass.SymbolState = null
        val computed = runs.map { r =>
          if (runs.runStart) st = new IndicatorPass.SymbolState(patterns = patterns)
          st.nextInto(r.getDouble(iO), r.getDouble(iH), r.getDouble(iL), r.getDouble(iC),
            out.values, 0)
          r
        }
        val emitted = if (bucketed) computed.filter(r => !r.getBoolean(iW)) else computed
        emitted.map(out(_))
      }, preservesPartitioning = true)
    }
  }

  /** The W11 peak/valley flags per (symbol[, extraGroupCols]) group, or with
    * `anchors` set the W14 anchor rows alone ([[AnchorEmit]]).
    *
    * find_peaks is whole-group (prominence is a two-sided unbounded scan),
    * so each group is buffered — the reference has the same shape per
    * 30-day chunk (candle_to_calcs.py:528-558), which is why the group key
    * must include a time chunk at scale: it bounds the buffer, and flags
    * near chunk edges match the reference's chunked output.
    */
  final case class Peaks(extraGroupCols: Seq[String], anchors: Option[AnchorEmit] = None)
      extends Series {
    override def name: String = "PeaksPass"

    override def groupCols: Seq[String] = "symbol" +: extraGroupCols

    override def passThrough(child: Seq[Attribute]): Seq[Attribute] =
      if (anchors.isEmpty) child else Nil

    override def appended(child: Seq[Attribute]): Seq[Attribute] = anchors match {
      case Some(a) => a.outAttrs(child)
      case None =>
        PeaksPass.peakFields.map(f => AttributeReference(f.name, f.dataType, nullable = false)())
    }

    /** Flag mode is a flat append: the child's (group, timestamp) exchange
      * and sort survive, so downstream (symbol, chunk) windows skip both.
      * Anchor rows drop the group columns, so they promise neither.
      */
    override def outputPartitioning(child: Partitioning): Partitioning =
      if (anchors.isEmpty) child else UnknownPartitioning(child.numPartitions)

    override def outputOrdering(child: Seq[SortOrder], appended: Seq[Attribute]): Seq[SortOrder] =
      if (anchors.isEmpty) child else Nil

    override private[plans] def execute(rows: RDD[InternalRow], s: PassSchema): RDD[InternalRow] = {
      val iH = s.ordinal("high")
      val iL = s.ordinal("low")
      val keys = groupCols.map(s.column)
      rows.mapPartitions({ iter =>
        val out = new Appender(s)
        val emit: (ArrayBuffer[InternalRow], Array[Array[Int]]) => Iterator[InternalRow] =
          anchors match {
            case Some(a) => new AnchorEmitter(s, a, out).emit
            case None => (group, flags) => group.iterator.zipWithIndex.map { case (r, i) =>
              var j = 0
              while (j < flags.length) { out.values(j) = flags(j)(i); j += 1 }
              out(r)
            }
          }
        new KeyRuns(iter, keys, s.child).groups.flatMap { group =>
          emit(group, PeaksPass.flags(Array.tabulate(group.length)(group(_).getDouble(iH)),
            Array.tabulate(group.length)(group(_).getDouble(iL))))
        }
      }, preservesPartitioning = anchors.isEmpty)
    }
  }

  /** Global 0-based order index `__idx` by `sortCols`, for
    * [[graft.operators.SuffixArray]]'s re-rank: the planner inserts one
    * range exchange + sort and the index is zipped onto the sorted rows.
    * The only extra job is zipWithIndex's per-partition count (#partitions
    * longs to the driver); it and the emitting pass share one RDD instance,
    * so the range bounds, sampled once when the shuffle dependency is
    * created, are the same in both.
    */
  final case class GlobalIndex(sortCols: Seq[String]) extends Global {
    override def name: String = "GlobalIndex"

    override def keyCols: Seq[String] = sortCols

    override def appended(child: Seq[Attribute]): Seq[Attribute] =
      Seq(AttributeReference("__idx", LongType, nullable = false)())

    /** The child's range sort survives, and the index is monotone in it. */
    override def outputOrdering(child: Seq[SortOrder], appended: Seq[Attribute]): Seq[SortOrder] =
      child :+ SortOrder(appended.head, Ascending)

    override private[plans] def execute(rows: RDD[InternalRow], s: PassSchema): RDD[InternalRow] =
      rows.zipWithIndex().mapPartitions { it =>
        val out = new Appender(s)
        it.map { case (r, i) =>
          out.values(0) = i
          out(r)
        }
      }
  }

  /** Global run-start rank `__rank` by `keyCols`: each row carries the
    * global index of the first row of its equal-key run — `min(__idx)` over
    * equal keys, the sparse rank the suffix array's prefix doubling consumes
    * — on the range exchange the sort already needs, with no hash exchange.
    *
    * After the range sort, ranks are computable per partition given where
    * each partition's leading run began globally. One boundary job collects
    * per partition (row count, first key, last key, local start of the
    * trailing run) — #partitions rows to the driver — and a driver scan
    * threads the open run across partitions; the emitting pass then assigns
    * ranks in one forward scan. Both jobs consume one RDD instance (one
    * range-shuffle dependency, as in [[GlobalIndex]]), and per-partition
    * counts and runs are functions of the key alone, so row order within a
    * run cannot change any rank.
    */
  final case class GlobalRank(keyCols: Seq[String]) extends Global {
    override def name: String = "GlobalRank"

    override def appended(child: Seq[Attribute]): Seq[Attribute] =
      Seq(AttributeReference("__rank", LongType, nullable = false)())

    /** Run detection compares raw key bytes, so floating keys are normalized
      * first (-0.0 → 0.0, NaN payloads → canonical NaN): values the range
      * sort treats as equal must not split one run into two ranks. The
      * optimizer's NormalizeFloatingNumbers is private[sql], so it is
      * spelled out: NaN → canonical literal, else x + 0.0. Nested floating
      * key types are rejected rather than silently mis-ranked.
      */
    private def keyExprs(s: PassSchema): Seq[Expression] = keyCols.map { c =>
      val a = s.column(c)
      a.dataType match {
        case DoubleType =>
          If(IsNaN(a), Literal(Double.NaN, DoubleType), Add(a, Literal(0.0, DoubleType)))
        case FloatType =>
          If(IsNaN(a), Literal(Float.NaN, FloatType), Add(a, Literal(0.0f, FloatType)))
        case t if hasFloating(t) =>
          throw new IllegalStateException(
            s"GlobalRank: nested floating-point key type $t for '$c' is not " +
              "supported (raw-byte run detection cannot normalize it)")
        case _ => a
      }
    }

    private def hasFloating(t: DataType): Boolean = t match {
      case DoubleType | FloatType => true
      case ArrayType(e, _) => hasFloating(e)
      case MapType(k, v, _) => hasFloating(k) || hasFloating(v)
      case StructType(fields) => fields.exists(f => hasFloating(f.dataType))
      case _ => false
    }

    override private[plans] def execute(rows: RDD[InternalRow], s: PassSchema): RDD[InternalRow] = {
      val keys = keyExprs(s)
      // Boundary job: (count, first key, last key, local start of the
      // trailing run) per non-empty partition, as plain tuples of UnsafeRow
      // copies.
      val bounds: Array[Option[(Long, InternalRow, InternalRow, Long)]] = rows
        .mapPartitionsWithIndex { (pid, it) =>
          val runs = new KeyRuns(it, keys, s.child)
          var first: InternalRow = null
          var trailStart = 0L
          runs.foreach { _ =>
            if (runs.runStart) {
              if (first == null) first = runs.key
              trailStart = runs.index
            }
          }
          Iterator.single((pid, if (first == null) None
            else Some((runs.index + 1, first, runs.key, trailStart))))
        }.collect().sortBy(_._1).map(_._2)
      val nParts = bounds.length
      val offsets = bounds.scanLeft(0L)((acc, b) => acc + b.map(_._1).getOrElse(0L))
      // Driver scan: thread the open run across partitions. carried(p) >= 0
      // means partition p's leading run began at that GLOBAL index.
      val carried = Array.fill(nParts)(-1L)
      var prevLast: InternalRow = null
      var prevOpen = -1L
      var p = 0
      while (p < nParts) {
        bounds(p) match {
          case Some((_, firstKey, lastKey, trailStartLocal)) =>
            val continues = prevLast != null && firstKey == prevLast
            if (continues) carried(p) = prevOpen
            prevOpen =
              if (trailStartLocal == 0L && continues) prevOpen
              else offsets(p) + trailStartLocal
            prevLast = lastKey
          case None => () // empty partition: carry the open run through
        }
        p += 1
      }
      rows.mapPartitionsWithIndex { (pid, it) =>
        val runs = new KeyRuns(it, keys, s.child)
        val out = new Appender(s)
        val base = offsets(pid)
        val lead = carried(pid)
        runs.map { r =>
          if (runs.runStart)
            out.values(0) = if (runs.index == 0L && lead >= 0L) lead else base + runs.index
          out(r)
        }
      }
    }
  }
}
