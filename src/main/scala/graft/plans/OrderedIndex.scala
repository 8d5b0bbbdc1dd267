package graft.plans

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Scale-safe grouped prefix computation — the two-phase "zipWithIndex"
  * pattern replacing `Window.partitionBy(group).orderBy(keys)` for running
  * counts/sums over the RAW log.
  *
  * Why: the log model's windows partition by `part_id` (the topic's
  * partition count, e.g. 4) — at 100 TB that funnels the entire table into
  * 4 sort tasks (round-1 verdict's scale-killer). Here instead:
  *
  *  1. Spark range-partitions by (group, sortKeys) (the node declares
  *     [[OrderedDistribution]], so EnsureRequirements inserts the exchange
  *     and sort — AQE-aware, reusable) at full task parallelism;
  *  2. pass 1: per-task, per-group row counts / value sums — a tiny
  *     O(tasks × groups) driver collect;
  *  3. prefix-sum those bases in task order on the driver, broadcast back;
  *  4. pass 2: per-task running totals + broadcast base = exact global
  *     exclusive prefix per group.
  *
  * Both passes read the same exchange output, so the range shuffle is
  * written once and pass 2 re-reads shuffle files (no second source scan).
  * Output values are independent of the sampled range boundaries, so
  * results are deterministic even though boundary placement isn't.
  *
  * LAZINESS (round-3 verdict #2): this is a custom Catalyst operator —
  * [[GroupedPrefix]] logical node, planned by [[GroupedPrefixStrategy]]
  * into [[GroupedPrefixExec]]. The pass-1 job runs inside `doExecute`,
  * i.e. at the FIRST ACTION on the session's calling thread (exactly where
  * Spark's own RangePartitioner sampling runs) — constructing a DataFrame
  * over this node launches zero Spark jobs, rows stay `InternalRow`
  * end-to-end (the old RDD[Row] round-trip deserialized every column
  * twice), and the bench charges the prefix to the query that runs it.
  *
  * The reference assigns offsets at ingest with an atomic fetch_add
  * (`flyq-server/src/core/partition_state.rs:27-29`); this is the batch
  * recompute of the same assignment at cluster parallelism.
  */
object OrderedIndex {

  /** Adds `outCol` = the exclusive prefix (sum of `valueCol`, or row count
    * when None) over rows strictly before the current row in the
    * (groupCols, sortCols) total order, per group. valueCol=None gives the
    * dense 0-based per-group index. Lazy: launches no job until an action
    * runs on the result. */
  def withExclusivePrefix(df: DataFrame,
                          groupCols: Seq[String],
                          sortCols: Seq[String],
                          valueCol: Option[String],
                          outCol: String): DataFrame = {
    require(groupCols.nonEmpty || sortCols.nonEmpty,
      "withExclusivePrefix needs at least one group or sort column")
    val spark = df.sparkSession
    ensureRegistered(spark)
    val child = org.apache.spark.sql.graftbridge.Bridge.analyzed(df)
    val resolver = spark.sessionState.conf.resolver
    def attr(name: String): Attribute =
      child.output.find(a => resolver(a.name, name)).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${child.output.map(_.name).mkString(",")}"))
    val order = (groupCols ++ sortCols).map(c => SortOrder(attr(c), Ascending))
    val node = GroupedPrefix(groupCols.map(attr), order, valueCol.map(attr),
      AttributeReference(outCol, LongType, nullable = false)(), child)
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, node)
  }

  /** Idempotently install [[GroupedPrefixStrategy]] and
    * [[PruneGroupedPrefix]] on the session — called at DataFrame
    * construction so queries work on ANY session the harness hands us,
    * not just ones we built. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val e = spark.experimental
    e.synchronized {
      if (!e.extraStrategies.contains(GroupedPrefixStrategy))
        e.extraStrategies = e.extraStrategies :+ GroupedPrefixStrategy
      if (!e.extraOptimizations.contains(PruneGroupedPrefix))
        e.extraOptimizations = e.extraOptimizations :+ PruneGroupedPrefix
    }
  }
}

/** Logical node: output = child's columns plus the prefix column. No
  * predicate is pushed through it. Spark's `ColumnPruning` narrows its
  * child to the columns the parent and the node read, and
  * [[PruneGroupedPrefix]] removes it when no parent reads the prefix. */
case class GroupedPrefix(groupCols: Seq[Attribute],
                         order: Seq[SortOrder],
                         valueCol: Option[Attribute],
                         prefixAttr: AttributeReference,
                         child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ prefixAttr
  override def producedAttributes: AttributeSet = AttributeSet(prefixAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedPrefix =
    copy(child = newChild)
}

/** Drops a [[GroupedPrefix]] whose prefix column the projection above it
  * does not read: its range shuffle and two passes would compute a column
  * nobody reads (a `groupBy(part_id)` count over `toLog`, say). Spark's
  * `ColumnPruning` narrows the node's child but cannot remove the node.
  * [[OrderedIndex.ensureRegistered]] installs it in the optimizer's
  * user-provided batch, which runs after that pruning has left the
  * minimal projection directly above the node. */
object PruneGroupedPrefix extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan transformDown {
    case p @ Project(list, g: GroupedPrefix)
        if !list.exists(_.references.contains(g.prefixAttr)) =>
      p.copy(child = g.child)
  }
}

object GroupedPrefixStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedPrefix(g, o, v, p, child) =>
      GroupedPrefixExec(g, o, v, p, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical two-phase prefix. Declares [[OrderedDistribution]] +
  * per-partition ordering on (group ++ sort), so Spark plans the range
  * exchange/sort itself (and can reuse it across subtrees). */
case class GroupedPrefixExec(groupCols: Seq[Attribute],
                             order: Seq[SortOrder],
                             valueCol: Option[Attribute],
                             prefixAttr: Attribute,
                             child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ prefixAttr
  override def producedAttributes: AttributeSet = AttributeSet(prefixAttr)
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(OrderedDistribution(order))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] =
    Map(
      "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext, "number of output rows"),
      "numGroups" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext, "number of groups"))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val group = groupCols
    val valueOrdinal: Int = valueCol match {
      case Some(a) =>
        val i = childOutput.indexWhere(_.exprId == a.exprId)
        require(i >= 0, s"value column $a vanished from child output")
        i
      case None => -1
    }
    val rdd = child.execute()

    // Pass 1 needs only per-group TOTALS per partition — order-
    // insensitive — so when the planner satisfied requiredChildOrdering
    // with a SortExec, count beneath it on the exchange output:
    // executing the SortExec here would fully sort every partition just
    // to count, and pass 2 re-sorts the same shuffle output anyway — the
    // input was being sorted TWICE per prefix (r17 data-plane review #5;
    // at the 100 TB design point the sort is the dominant cost of this
    // operator). SortExec preserves partitioning, so per-partition
    // counts below it equal counts above it.
    // The sort may be codegen-wrapped (WholeStageCodegen(Sort(Input(x))))
    // — unwrap to find it; anything else falls back to the sorted rdd
    // (correct, just without the skip).
    @scala.annotation.tailrec
    def beneathSort(p: SparkPlan): Option[SparkPlan] = p match {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        beneathSort(w.child)
      case s: org.apache.spark.sql.execution.SortExec => Some(s.child)
      case _ => None
    }
    val countInput = beneathSort(child) match {
      case Some(below) => below.execute()
      case None => rdd
    }

    // pass 1: per-task per-group totals (tiny). Runs here — first action.
    val counts: Array[(Int, Seq[(UnsafeRow, Long)])] =
      countInput.mapPartitionsWithIndex { (pid, it) =>
        val keyProj = UnsafeProjection.create(group, childOutput)
        val m = mutable.LinkedHashMap.empty[UnsafeRow, Long]
        it.foreach { row =>
          val v = if (valueOrdinal < 0) 1L
                  else if (row.isNullAt(valueOrdinal)) 0L
                  else row.getLong(valueOrdinal)
          val k = keyProj(row) // reused buffer: copy only on first insert
          m.get(k) match {
            case Some(c) => m.update(k, c + v)
            case None => m.update(k.copy(), v)
          }
        }
        Iterator.single(pid -> m.toSeq)
      }.collect()

    // driver-side prefix sum across tasks, per group — O(tasks × groups)
    val running = mutable.HashMap.empty[UnsafeRow, Long]
    val bases = Array.fill(countInput.getNumPartitions)(Map.empty[UnsafeRow, Long])
    counts.sortBy(_._1).foreach { case (pid, groups) =>
      bases(pid) = groups.map { case (k, c) =>
        val b = running.getOrElse(k, 0L)
        running.update(k, b + c)
        k -> b
      }.toMap
    }
    longMetric("numGroups") += running.size
    // driver-side metric: must be POSTED (task-end accumulator updates
    // never fire for it) or the SQL UI shows 0 — same pattern as
    // BroadcastExchangeExec's driver metrics
    org.apache.spark.sql.execution.metric.SQLMetrics.postDriverMetricUpdates(
      sparkContext,
      sparkContext.getLocalProperty(
        org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY),
      Seq(longMetric("numGroups")))
    val numOutputRows = longMetric("numOutputRows")
    val basesB: Broadcast[Array[Map[UnsafeRow, Long]]] =
      session.sparkContext.broadcast(bases)

    // pass 2: base + local running total (exclusive), appended as a column.
    // outAttrs/pAttr hoisted so the closure captures plain Seqs, not
    // `this` (the whole exec subtree would otherwise serialize per task).
    val outAttrs = output
    val pAttr = prefixAttr
    rdd.mapPartitionsWithIndex { (pid, it) =>
      val keyProj = UnsafeProjection.create(group, childOutput)
      val toUnsafe = UnsafeProjection.create(outAttrs, childOutput :+ pAttr)
      val base = basesB.value(pid)
      val local = mutable.HashMap.empty[UnsafeRow, Long]
      val prefixRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      it.map { row =>
        val v = if (valueOrdinal < 0) 1L
                else if (row.isNullAt(valueOrdinal)) 0L
                else row.getLong(valueOrdinal)
        val k = keyProj(row)
        val prefix = base.getOrElse(k, 0L) + local.getOrElse(k, 0L)
        local.get(k) match {
          case Some(c) => local.update(k, c + v)
          case None => local.update(k.copy(), v)
        }
        prefixRow.update(0, prefix)
        numOutputRows += 1
        toUnsafe(joined(row, prefixRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupedPrefixExec =
    copy(child = newChild)
}
