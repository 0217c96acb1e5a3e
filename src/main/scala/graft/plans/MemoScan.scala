package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.columnar.CachedBatch
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.columnar.{InMemoryTableScanExec, InMemoryTableScanLike}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Cached-scan wrapper that STOPS driver-side tree walks at the cache
  * boundary (r14, measured with jstack + a stage-time listener).
  *
  * The problem: `InMemoryTableScanExec.innerChildren` is the relation, and
  * `InMemoryRelation.innerChildren` is the full cached PHYSICAL plan — so
  * every plan-string generation (AQE's `onUpdatePlan` explain string per
  * stage update, the `SparkPlanInfo` built for every execution-start
  * event, `ExplainUtils` operator-id passes) recursively re-walks every
  * cached plan reachable from the query. With memo-composed kernels
  * (ScopedMemo frames referencing other memo frames — the betweenness
  * layers, the dedup pair chain) that recursion MULTIPLIES: l3's cached
  * plan embeds l2's, which embeds l1's, which embeds the edge cache's…
  * `spark.sql.maxPlanStringLength` bounds what is STORED, not the walk
  * itself (each node still computes its simpleString), so the r13
  * explainMode=simple fix capped but did not remove the cost — measured
  * on graph_betweenness_sampled at sf0.1: ~5 s of a ~9 s key was driver
  * main-thread `generateTreeString` over nested cache trees (stage
  * execution time for the same phase: < 1 s).
  *
  * The fix: an AQE query-stage-prep rule rewrites every planned
  * `InMemoryTableScanExec` into this wrapper. It DELEGATES execution,
  * partitioning, ordering, columnar support and the
  * [[InMemoryTableScanLike]] surface (so AQE still wraps it in a
  * table-cache query stage and uses runtime cache statistics), but its
  * `innerChildren` is empty — a tree walk prints one line and stops. Its
  * SQL metrics are the wrapped scan's, so the UI and listeners still see
  * the rows it reads.
  * Because the rule runs AFTER planning, column pruning and filter
  * pushdown into the cached scan are already in place and preserved
  * verbatim. Results are bit-identical by construction: the wrapped scan
  * IS the execution path.
  *
  * Scale note: this is not a local-mode tweak — plan-description
  * generation runs on the driver of any cluster, once per action plus
  * once per adaptive stage update, so bounding it matters MORE as plans
  * and stage counts grow.
  */
case class MemoScanExec(scan: InMemoryTableScanExec)
    extends LeafExecNode with InMemoryTableScanLike {
  override def output: Seq[Attribute] = scan.output
  override def supportsColumnar: Boolean = scan.supportsColumnar
  override def outputPartitioning: Partitioning = scan.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = scan.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = scan.execute()
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] =
    scan.executeColumnar()
  override def isMaterialized: Boolean = scan.isMaterialized
  override def baseCacheRDD(): RDD[CachedBatch] = scan.baseCacheRDD()
  override def runtimeStatistics: Statistics = scan.runtimeStatistics
  // the wrapped scan's SQL metrics are this node's (resetMetrics follows)
  override def metrics: Map[String, SQLMetric] = scan.metrics
  // the whole point: do NOT expose the cached plan to tree walks
  override def innerChildren: Seq[QueryPlan[_]] = Nil
  override def simpleString(maxFields: Int): String =
    s"MemoScan ${scan.simpleString(maxFields)}"
  override protected def doCanonicalize(): SparkPlan =
    MemoScanExec(scan.canonicalized.asInstanceOf[InMemoryTableScanExec])
}

/** The AQE prep rule injecting [[MemoScanExec]] (see its doc). Runs in
  * `queryStagePreparationRules`, i.e. on the initial adaptive plan AND on
  * every AQE re-optimization, always after planning/EnsureRequirements.
  * AQE-off sessions are untouched (plan-shape suites inspect raw scans
  * there). `spark.graft.hideCachedPlanTrees=false` restores the stock
  * nodes for debugging sessions that want full cache-tree dumps.
  */
case class HideCachedPlanTrees(session: SparkSession)
    extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (session.conf.get("spark.graft.hideCachedPlanTrees", "true") != "true") {
      plan
    } else {
      plan.transformUp {
        case s: InMemoryTableScanExec => MemoScanExec(s)
      }
    }
}
