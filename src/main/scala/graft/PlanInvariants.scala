package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** Suite-wide physical-plan DENYLIST — the structural scale-killers no
  * gate query may plan, asserted over every `SparkEntry.queries` entry by
  * PlanInvariantsSpec (and runnable standalone at any SF via
  * `runMain graft.Tool check`):
  *
  *  - `cartesian`: CartesianProductExec — an unkeyed all-pairs join is
  *    quadratic at any scale.
  *  - `bnlj`: BroadcastNestedLoopJoinExec — per-row scan of the broadcast
  *    side; AUTO-allowed when either side is STRUCTURALLY bounded (a
  *    group-less aggregate = exactly one row, or a Limit) — the
  *    `crossJoin(broadcast(one-row-totals))` normalization shape — and
  *    otherwise tolerable only via the per-query allowlist (a
  *    caller-bounded set the plan cannot prove bounded).
  *  - `global-window`: WindowExec/WindowGroupLimitExec with an EMPTY
  *    partition spec — plans a single-partition global sort of its input;
  *    fine over an aggregate-bounded frame, fatal over a corpus.
  *  - `big-broadcast`: BroadcastExchangeExec whose child's
  *    plan-statistics estimate exceeds [[BroadcastMaxBytes]] — the
  *    file-stats eager-broadcast trap (SCALE.md round 8) caught at plan
  *    time instead of in a bench column. Stats-less children (the
  *    defaultSizeInBytes sentinel) are skipped, not flagged.
  *
  * The sweep runs with AQE DISABLED so the static plan — the one that
  * encodes the operator's structural choices — is fully traversable;
  * AQE only ever improves on it at runtime.
  *
  * Checks run on the PRE-EXECUTION plan: calling [[check]] never runs a
  * job (queries that act at CONSTRUCTION time still do their
  * construction work; their final frame is what gets audited).
  */
object PlanInvariants {
  /** Estimated-bytes bound above which a planned broadcast is flagged. */
  val BroadcastMaxBytes: Long = 512L << 20 // 512 MiB

  val Cartesian = "cartesian"
  val Bnlj = "bnlj"
  val GlobalWindow = "global-window"
  val BigBroadcast = "big-broadcast"

  /** True when the plan's output cardinality is structurally bounded
    * regardless of input size: a group-less aggregate (exactly one row)
    * or any Limit, looked up through row-preserving unary wrappers.
    */
  @annotation.tailrec
  private def boundedOutput(p: SparkPlan): Boolean = p match {
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      a.groupingExpressions.isEmpty
    case _: org.apache.spark.sql.execution.LocalLimitExec |
         _: org.apache.spark.sql.execution.GlobalLimitExec |
         _: org.apache.spark.sql.execution.CollectLimitExec |
         _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      boundedOutput(r.child)
    case u @ (_: org.apache.spark.sql.execution.ProjectExec |
              _: org.apache.spark.sql.execution.FilterExec |
              _: org.apache.spark.sql.execution.SortExec |
              _: org.apache.spark.sql.execution.WholeStageCodegenExec |
              _: org.apache.spark.sql.execution.InputAdapter |
              _: BroadcastExchangeExec |
              _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec) =>
      boundedOutput(u.children.head)
    case _ => false
  }

  def violations(plan: SparkPlan, allowed: Set[String]): Seq[String] = {
    val sentinel = SQLConf.get.defaultSizeInBytes
    val hits = plan.collectWithSubqueries {
      case _: CartesianProductExec =>
        (Cartesian, "CartesianProduct")
      case j: BroadcastNestedLoopJoinExec
          if !boundedOutput(j.left) && !boundedOutput(j.right) =>
        (Bnlj, s"BroadcastNestedLoopJoin(${j.joinType})")
      case w: WindowExec if w.partitionSpec.isEmpty =>
        (GlobalWindow, "Window with empty partitionBy (global sort)")
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        (GlobalWindow, "WindowGroupLimit with empty partitionBy (global sort)")
      case e: BroadcastExchangeExec if e.child.logicalLink.exists { l =>
            val b = l.stats.sizeInBytes
            b != sentinel && b > BroadcastMaxBytes
          } =>
        (BigBroadcast, s"BroadcastExchange of estimated " +
          s"${e.child.logicalLink.map(_.stats.sizeInBytes).getOrElse(BigInt(-1))} bytes")
    }
    hits.collect { case (id, msg) if !allowed(id) => s"[$id] $msg" }
  }

  /** Violations of the returned frame's pre-execution physical plan. */
  def check(df: DataFrame, allowed: Set[String] = Set.empty): Seq[String] =
    violations(df.queryExecution.executedPlan, allowed)

  /** Per-query exemptions, each with the structural reason it is safe at
    * 100 TB. An entry here is a DOCUMENTED bounded-input claim, not a
    * waiver — the bound must come from an aggregate/limit upstream, never
    * from "the test data is small".
    */
  val allow: Map[String, Set[String]] = Map(
    // bruteForceTopK's documented BNLJ (the exact-ANN baseline): corpus x
    // broadcast QUERY set — |Q| is caller-bounded (a handful of probe
    // vectors), which the plan cannot prove (it is a filter on a scan,
    // not an aggregate/limit). Never corpus x corpus.
    "q_ann_topk" -> Set(Bnlj),
    // same bruteForceTopK shape, used as the exact side of the recall
    // measurement
    "q_ann_ivf_recall" -> Set(Bnlj)
  )
}
