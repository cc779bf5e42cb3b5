package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.types.LongType

/** Exact integer running totals over a GLOBAL ordering, computed in
  * parallel: the replacement for `sum(v) OVER (ORDER BY k)` with no
  * partition spec, which moves the whole frame through one task.
  *
  * The exec asks for its child range-partitioned and sorted by the
  * order keys (one range exchange; equal keys share a partition, so
  * ties stay together). It reads that one shuffle output twice: a
  * totals job sums each partition, then the output pass emits each
  * row's local prefix plus the sum of all earlier partitions. Both
  * passes read the same materialized shuffle, so the partition
  * boundaries they see are identical by construction — no persist, no
  * second boundary sample, no offsets join.
  *
  * Value expressions are summed as longs with NULL counting as 0 (an
  * overflow throws, as ANSI `sum` does), so every total is exact and
  * re-association across partitions is bit-identical to the one-task
  * window:
  *  - `includeCurrent = true`: RANGE UNBOUNDED PRECEDING .. CURRENT ROW
  *    (order-key ties share one total; a tie group is buffered in
  *    memory, so order keys should be near-unique, as groupBy keys are);
  *  - `includeCurrent = false`: ROWS UNBOUNDED PRECEDING .. 1 PRECEDING
  *    (strictly earlier rows; the order keys must be unique per row
  *    for the result to be deterministic);
  *  - grand totals: the sum over the whole frame, on every row.
  *
  * Rule of use: bounded frames (per-label, per-bucket, per-histogram
  * cell) take one aggregation plus a one-task window; `RunningTotals`
  * is for unbounded global orderings (score curves, vocabulary CDFs).
  */
case class RunningTotals(
    order: Seq[SortOrder],
    running: Seq[Expression],
    grand: Seq[Expression],
    added: Seq[Attribute],
    includeCurrent: Boolean,
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = child.output ++ added
  override def producedAttributes: AttributeSet = AttributeSet(added)
  override protected def withNewChildInternal(newChild: LogicalPlan): RunningTotals =
    copy(child = newChild)
}

object RunningTotals {

  /** Append one running total per `sums` pair, cumulating the value
    * over the global ascending order of `orderCols` (use `.desc` for
    * descending), plus one grand-total column per `grandTotals` pair.
    * Values must be integral; they are summed as longs, NULL as 0.
    */
  def withRunningTotals(
      df: DataFrame,
      orderCols: Seq[Column],
      sums: Seq[(String, Column)],
      includeCurrent: Boolean = true,
      grandTotals: Seq[(String, Column)] = Nil): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    require(sums.nonEmpty, "need at least one running total")
    val outNames = (sums ++ grandTotals).map(_._1)
    require(outNames.distinct.size == outNames.size, "duplicate output names")
    val clashing = df.columns.filter(outNames.contains)
    require(clashing.isEmpty,
      s"withRunningTotals appends ${outNames.mkString("/")}; rename: ${clashing.mkString(", ")}")
    val spark = df.sparkSession
    install(spark)
    val child = df.queryExecution.analyzed
    // resolve the caller's columns against `child` by planning them
    // over it: the analyzed Sort/Project keep child's attribute ids
    val order = df.sort(orderCols: _*).queryExecution.analyzed match {
      case s: Sort if s.child eq child => s.order
      case other => sys.error(s"unexpected order plan:\n$other")
    }
    def values(pairs: Seq[(String, Column)]): Seq[Expression] =
      if (pairs.isEmpty) Nil
      else df.select(pairs.map { case (_, v) => coalesce(v.cast("long"), lit(0L)) }: _*)
        .queryExecution.analyzed match {
          case p: Project if p.child eq child => p.projectList.map {
            case a: Alias => a.child
            case e => e
          }
          case other => sys.error(s"unexpected value plan:\n$other")
        }
    val added = outNames.map(AttributeReference(_, LongType, nullable = false)())
    GraftExpressionBridge.ofRows(spark, RunningTotals(
      order, values(sums), values(grandTotals), added, includeCurrent, child))
  }

  /** Add [[RunningTotalsStrategy]] to the session's planner (idempotent),
    * so plain sessions plan the node without `spark.sql.extensions`.
    */
  private def install(spark: SparkSession): Unit = synchronized {
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(RunningTotalsStrategy))
      spark.experimental.extraStrategies = RunningTotalsStrategy +: strategies
  }
}

object RunningTotalsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RunningTotals(order, running, grand, added, includeCurrent, child) =>
      RunningTotalsExec(order, running, grand, added, includeCurrent, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class RunningTotalsExec(
    order: Seq[SortOrder],
    running: Seq[Expression],
    grand: Seq[Expression],
    added: Seq[Attribute],
    includeCurrent: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ added
  override def producedAttributes: AttributeSet = AttributeSet(added)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): RunningTotalsExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val input = child.execute()
    val inputAttrs = child.output
    val values = running ++ grand
    val nRunning = running.size
    val n = values.size
    // Pass 1: per-partition sums of every value, in partition order —
    // not needed when one partition holds everything and no grand
    // total is asked for (every offset is then 0).
    val partSums: Array[Array[Long]] =
      if (input.getNumPartitions == 1 && grand.isEmpty) Array.empty
      else input.mapPartitions { rows =>
        val proj = UnsafeProjection.create(values, inputAttrs)
        val acc = new Array[Long](n)
        rows.foreach { r =>
          val v = proj(r)
          var i = 0
          while (i < n) { acc(i) = Math.addExact(acc(i), v.getLong(i)); i += 1 }
        }
        Iterator.single(acc)
      }.collect()
    // offsets(p)(i): sum of value i over the partitions before p; the
    // last entry sums every partition, which is where the grand totals
    // (the value slots after the running ones) come from
    val offsets = partSums.scanLeft(new Array[Long](n)) { (a, b) =>
      Array.tabulate(n)(i => Math.addExact(a(i), b(i)))
    }
    val grandTotals = offsets.last.drop(nRunning)
    val outAttrs = output
    val rangeFrame = includeCurrent
    val ordering = order
    // Pass 2: local prefix + offset, over the same shuffle output.
    input.mapPartitionsWithIndex({ (pid, rows) =>
      val proj = UnsafeProjection.create(values.take(nRunning), inputAttrs)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val acc = offsets(pid).take(nRunning)
      val added = new GenericInternalRow(n)
      grandTotals.indices.foreach(i => added.setLong(nRunning + i, grandTotals(i)))
      val joined = new JoinedRow()
      def emit(r: InternalRow): InternalRow = {
        var i = 0
        while (i < nRunning) { added.setLong(i, acc(i)); i += 1 }
        outProj(joined(r, added))
      }
      def add(r: InternalRow): Unit = {
        val v = proj(r)
        var i = 0
        while (i < nRunning) { acc(i) = Math.addExact(acc(i), v.getLong(i)); i += 1 }
      }
      if (!rangeFrame) rows.map { r => val out = emit(r); add(r); out }
      else {
        // RANGE frame: buffer one peer group (equal order keys), add it
        // whole, then emit every member with the same total
        val peers = new LazilyGeneratedOrdering(ordering, inputAttrs)
        val in = rows.buffered
        val group = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        var pos = 0
        new Iterator[InternalRow] {
          override def hasNext: Boolean = pos < group.size || in.hasNext
          override def next(): InternalRow = {
            if (pos >= group.size) {
              group.clear(); pos = 0
              val first = in.next().copy()
              group += first; add(first)
              while (in.hasNext && peers.compare(in.head, first) == 0) {
                val r = in.next().copy()
                group += r; add(r)
              }
            }
            pos += 1
            emit(group(pos - 1))
          }
        }
      }
    }, preservesPartitioning = true)
  }
}
