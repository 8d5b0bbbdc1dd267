package graft

import org.apache.spark.sql.execution.{LocalTableScanExec, ProjectExec, FilterExec, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Structural scale guards swept across the ENTIRE declared query
  * surface: every `SparkEntry.queries` entry is PLANNED (not executed)
  * at sf0.001 and its physical plan checked for the two structural
  * scale-killers that correctness tests cannot see:
  *
  *  - cartesian / nested-loop joins whose non-streamed side can grow
  *    with the data — the product is quadratic, the classic way a query
  *    that passes at test SF dies at 100 TB. A nested-loop join IS fine
  *    when its build side is PROVABLY bounded, and that is checked
  *    structurally, not by query name: the build subtree must resolve to
  *    a grouping-free global aggregate (≤ 1 row at any data size) or a
  *    literal local grid (≤ [[PlanBudgetSpec.GridCap]] rows), through
  *    row-preserving operators only. "A human said it's small" does not
  *    pass; "the plan cannot produce more than K rows at any scale"
  *    does.
  *  - window functions with an empty PARTITION BY — Spark funnels the
  *    whole input through ONE task ("No Partition Defined"). The library
  *    routes global-prefix work through the two-phase
  *    [[graft.plans.OrderedIndex]] operator instead, so NO query may
  *    plan an unpartitioned window, bounded inputs included (a bounded
  *    frame today becomes corpus-sized after a refactor; this sweep is
  *    what catches it).
  *
  * §7.6's per-query plan audit is the human-readable version of this
  * check; this spec is the executable version that a new query cannot
  * dodge, because it enumerates `SparkEntry.queries` itself.
  */
class PlanBudgetSpec extends AnyFunSuite {

  lazy val spark = Testing.spark

  val sf = "/root/testdata/sf0.001"

  /** Largest literal grid a nested-loop build side may carry (the real
    * grids are ≤ ~100 rows: recall cut-offs, threshold sweeps, zero-fill
    * hour×type frames). */
  val GridCap = 256

  /** Can this subtree's row count be bounded INDEPENDENT of input data
    * size? Walks only through operators that cannot increase the bound:
    * project/filter/sort/exchange preserve-or-shrink; unions add bounds;
    * joins of two bounded sides multiply bounds (still constant). A
    * grouping-free aggregate is ≤ 1 row by definition (top-down, the
    * first aggregate seen is the FINAL one — partials only occur below
    * it). Anything else — scans, exploded generates, equi-joins against
    * data — is unbounded and fails the check. */
  private def bounded(p: SparkPlan): Boolean = p match {
    case l: LocalTableScanExec => l.rows.size <= GridCap
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case x: ProjectExec => bounded(x.child)
    case x: FilterExec => bounded(x.child)
    case x: SortExec => bounded(x.child)
    case x: BroadcastExchangeExec => bounded(x.child)
    case x: ShuffleExchangeExec => bounded(x.child)
    case x: ReusedExchangeExec => false // conservatively: original not visible here
    case x: UnionExec => x.children.forall(bounded)
    case j: BaseJoinExec => bounded(j.left) && bounded(j.right)
    case _ => false
  }

  /** Queries whose nested-loop build side is bounded by a SEMANTIC
    * invariant the physical plan cannot prove alone, each with the
    * invariant named. These are not free passes: the build subtree must
    * still carry a structural WITNESS of the invariant — the fixed-pool
    * FilterExec, or a Generate over a grouping-free aggregate — so
    * deleting the pool filter (the regression this guards against)
    * fails the sweep.
    *
    *  - fixed query/centroid pool (`Similarity.isQueryVec` /
    *    `isCentroidVec`): `vec_id % mod === r && vec_id < mod·cap` on the
    *    unique `vec_id` key — ≤ cap (32) rows at ANY corpus size (the r8
    *    linearization). Broadcast of ≤ 32 query vectors is the whole
    *    point of the ANN probe design. Queries: embedding_topk,
    *    embedding_ann_ivf2, kmeans_refine, ann_recall(-_trained) which
    *    compose them.
    *  - eval-holdout pool (`Curation.isEvalId`, same shape):
    *    semantic_decontaminate.
    *  - calendar grid: a Generate(sequence(min_hour, max_hour)) over a
    *    1-row global MIN/MAX aggregate — bounded by wall-clock span, not
    *    corpus size. Queries: hourly_anomalies, event_funnel.
    */
  val semanticBoundOk: Set[String] = Set(
    // Queries whose plan is an InMemoryTableScan of a persist-once
    // artifact (ANN method slivers, exact top-k, centroid assignments;
    // ann_recall, planned first in this sweep's alphabetical order,
    // populates the ANN slivers). The sweep reaches the query- or
    // centroid-pool nested-loop inside the cached relation's build plan
    // via [[nodes]], so each is audited under the name of the query that
    // reads it.
    "embedding_ann_ivf", "embedding_ann_ivf2", "embedding_ann_pq",
    "embedding_ann_pq_trained", "embedding_topk", "cluster_purity",
    "curate_embeddings", "kmeans_iterate",
    "kmeans_refine",
    "ann_recall", "ann_recall_trained", "semantic_decontaminate",
    "hourly_anomalies", "event_funnel",
    // r12: near_dup_recall's pool-exhaustive truth broadcasts the same
    // isQueryVec pool as embedding_topk (witness: the pool FilterExec)
    "near_dup_recall",
    // r12: the dense leg inherits embedding_topk's fixed-query-pool
    // bound, narrowed further by the pushed q_id = HybridDenseQuery
    // equality (Catalyst constant-folds the pool predicate away once
    // the tighter literal equality lands, so the witness filter is the
    // equality itself)
    "hybrid_search")

  /** A structural remnant of the semantic bound: the subtree filters its
    * scan (pool predicates survive as FilterExec) or generates from a
    * bounded frame (calendar grids). A bare data-sized scan has neither.
    * Sees through the persist-once caches (InMemoryTableScan → the
    * cached relation's plan) and AQE wrappers, where the witness filter
    * actually lives. */
  private def witnessed(n: Any): Boolean = n match {
    case _: FilterExec => true
    case _: org.apache.spark.sql.catalyst.plans.logical.Filter => true
    case g: org.apache.spark.sql.execution.GenerateExec if bounded(g.child) =>
      true
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      // AQE wrappers expose their plans via accessor only (children AND
      // innerChildren are empty leaf nodes)
      witnessed(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      witnessed(q.plan)
    case t: org.apache.spark.sql.catalyst.trees.TreeNode[_] =>
      // innerChildren reaches through InMemoryRelation (the persist-once
      // caches) and AdaptiveSparkPlanExec, where the pool filter lives
      (t.children ++ t.innerChildren).exists(witnessed)
    case _ => false
  }

  /** Every physical node of `n`, including those inside persist-once
    * caches (InMemoryTableScan → InMemoryRelation → its cached plan, via
    * innerChildren) and AQE wrappers — the same reach as [[witnessed]].
    * `plan.collect` stops at the cache boundary, so a nested-loop inside
    * a cached build would escape the audit. */
  private def nodes(n: Any): Seq[SparkPlan] = n match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a +: nodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: nodes(q.plan)
    case p: SparkPlan => p +: (p.children ++ p.innerChildren).flatMap(nodes)
    case t: org.apache.spark.sql.catalyst.trees.TreeNode[_] =>
      (t.children ++ t.innerChildren).flatMap(nodes)
    case _ => Nil
  }

  /** The side whose size multiplies the nested-loop cost: for BNLJ the
    * broadcast (build) side; for a cartesian, either side may bound it. */
  private def nestedLoopBounded(name: String, p: SparkPlan): Boolean = p match {
    case j: BroadcastNestedLoopJoinExec =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
      }
      bounded(build) || (semanticBoundOk(name) && witnessed(build))
    case j: CartesianProductExec =>
      bounded(j.left) || bounded(j.right) ||
        (semanticBoundOk(name) && (witnessed(j.left) || witnessed(j.right)))
    case _ => true
  }

  lazy val allNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  lazy val plans: Seq[(String, SparkPlan)] = {
    // audit COLD plans: another suite sharing this session may have
    // populated the persist-once caches, and a warm audit sees
    // InMemoryTableScan where the bounded-witness subtree (pool filter,
    // grid generate) lives — an order-dependent false failure. The
    // canonical plan a user first compiles is the cold one.
    Artifacts.clear(spark)
    // ...and test-level .cache() entries from sibling suites (e.g.
    // PipelineSpec caches whole query results): CacheManager would
    // substitute a matching cached plan at the TOP of the audited query,
    // hiding every node inside it from plan.collect
    spark.catalog.clearCache()
    allNames.map { name =>
      name -> SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
    }
  }

  test("every nested-loop / cartesian join has a provably bounded build side") {
    val bad = plans.flatMap { case (name, plan) =>
      nodes(plan).collect {
        case j @ (_: BroadcastNestedLoopJoinExec | _: CartesianProductExec)
            if !nestedLoopBounded(name, j) =>
          s"$name: ${j.nodeName} with unbounded build side\n${j.treeString}"
      }
    }
    assert(bad.isEmpty,
      s"quadratic joins with data-sized build sides:\n${bad.mkString("\n")}")
  }

  test("semantic-bound whitelist entries still plan a nested-loop (else stale)") {
    val stale = semanticBoundOk.toSeq.sorted.filter { name =>
      nodes(plans.toMap.apply(name)).collect {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }.isEmpty
    }
    assert(stale.isEmpty,
      s"whitelist entries with no nested-loop in plan (remove them): $stale")
  }

  test("no query plans a window with an empty PARTITION BY") {
    val bad = plans.flatMap { case (name, plan) =>
      plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          s"$name: unpartitioned ${w.nodeName}"
      }
    }
    assert(bad.isEmpty, s"unpartitioned windows:\n${bad.mkString("\n")}")
  }
}
