package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, RowOrdering, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** Per-partition carries for the rank devices' at-scale pass
  * ([[graft.ops.Scale.globalCumSumOrdered]],
  * [[graft.ops.Scale.groupedRankOrdered]]).
  *
  * Both expressions read a frame that is range-partitioned on the order
  * key and sorted within each partition on it, so partition index then
  * position within the partition IS the global key order. The driver
  * turns an O(partitions) summary into one start value per partition;
  * the expression seeds its state from that array when its partition
  * starts (the `MonotonicallyIncreasingID` pattern: `Nondeterministic`,
  * state in generated mutable fields) and carries it row by row. The
  * pass is one projection over the partitions — no exchange, sort,
  * window or join — and it must sit directly on the partitioned frame:
  * the partition index it is initialised with indexes the start array.
  */
object RangeCarry {

  /** Running SUM of `value` (a long column), seeded per partition:
    * `starts(p)` is the total of the partitions before p and
    * `seenBefore(p)` whether any of them holds a non-NULL value. */
  def runningSum(value: Column, starts: Array[Long],
                 seenBefore: Array[Boolean]): Column =
    GraftExpressionBridge.column(RangeRunningSum(
      GraftExpressionBridge.expression(value), starts, seenBefore))

  /** ROW_NUMBER within runs of equal `key` (a struct of the group
    * columns), seeded per partition: `starts(p)` is how many rows of
    * partition p's first group sit in earlier partitions. */
  def rowNumber(key: Column, starts: Array[Long]): Column =
    GraftExpressionBridge.column(RangeRowNumber(
      GraftExpressionBridge.expression(key), starts))

  /** Fail loud when a pass runs over a partition the starts were not
    * computed for (the partitioned frame was recomputed into a different
    * layout) instead of indexing past the array. */
  def checkPartition(partitionIndex: Int, partitions: Int): Unit =
    if (partitionIndex >= partitions)
      throw new IllegalStateException(
        s"range partition $partitionIndex is past the $partitions " +
          "partitions the carry was computed for")
}

/** Counts rows through runs of equal keys: the first key continues the
  * count it was seeded with, every later new key restarts at 1. Keys are
  * compared with the natural ascending ordering of their fields — the
  * ordering the partitions were sorted by, under which NULL equals NULL
  * and -0.0 equals 0.0, exactly the window's grouping equality. */
final class KeyRuns(ordering: Ordering[InternalRow], private[this] var n: Long) {
  private[this] var runKey: InternalRow = _

  def next(key: InternalRow): Long = {
    if (runKey == null) { runKey = key.copy(); n += 1 }
    else if (ordering.compare(key, runKey) == 0) n += 1
    else { runKey = key.copy(); n = 1 }
    n
  }
}

/** SUM(child) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING) as a carry:
  * NULL until the first non-NULL value in the whole order, the running
  * total after (SUM skips NULLs). See [[RangeCarry.runningSum]]. */
case class RangeRunningSum(child: Expression, starts: Array[Long],
                           seenBefore: Array[Boolean])
  extends UnaryExpression with Nondeterministic {

  @transient private[this] var sum: Long = _
  @transient private[this] var seen: Boolean = _

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def stateful: Boolean = true
  override def prettyName: String = "range_running_sum"
  // the starts are per-partition data, not plan shape
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    RangeCarry.checkPartition(partitionIndex, starts.length)
    sum = starts(partitionIndex)
    seen = seenBefore(partitionIndex)
  }

  override protected def evalInternal(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v != null) { sum += v.asInstanceOf[Long]; seen = true }
    if (seen) sum else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val startsRef = ctx.addReferenceObj("starts", starts, "long[]")
    val seenRef = ctx.addReferenceObj("seenBefore", seenBefore, "boolean[]")
    val sumV = ctx.addMutableState(CodeGenerator.JAVA_LONG, "runSum")
    val seenV = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "runSeen")
    ctx.addPartitionInitializationStatement(
      s"""graft.functions.RangeCarry.checkPartition(partitionIndex, $startsRef.length);
         |$sumV = $startsRef[partitionIndex];
         |$seenV = $seenRef[partitionIndex];""".stripMargin)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |if (!${c.isNull}) { $sumV += ${c.value}; $seenV = true; }
      |boolean ${ev.isNull} = !$seenV;
      |long ${ev.value} = $sumV;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression)
  : RangeRunningSum = copy(child = newChild)
}

/** ROW_NUMBER() OVER (PARTITION BY group ORDER BY key) as a carry over
  * the group-key struct `child`. See [[RangeCarry.rowNumber]]. */
case class RangeRowNumber(child: Expression, starts: Array[Long])
  extends UnaryExpression with Nondeterministic {

  @transient private[this] var runs: KeyRuns = _

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def stateful: Boolean = true
  override def prettyName: String = "range_row_number"
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  /** The run counter of one partition (the generated code calls it from
    * its partition initialisation). */
  def start(partitionIndex: Int): KeyRuns = {
    RangeCarry.checkPartition(partitionIndex, starts.length)
    new KeyRuns(RowOrdering.createNaturalAscendingOrdering(
      child.dataType.asInstanceOf[StructType].map(_.dataType)),
      starts(partitionIndex))
  }

  override protected def initializeInternal(partitionIndex: Int): Unit =
    runs = start(partitionIndex)

  override protected def evalInternal(input: InternalRow): Any =
    runs.next(child.eval(input).asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("rowNumber", this)
    val runsV = ctx.addMutableState(classOf[KeyRuns].getName, "keyRuns")
    ctx.addPartitionInitializationStatement(
      s"$runsV = $self.start(partitionIndex);")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |long ${ev.value} = $runsV.next(${c.value});""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
  : RangeRowNumber = copy(child = newChild)
}
