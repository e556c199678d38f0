package graft.functions

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Optimizer fence: pins an EXPENSIVE projection (MinHash, SimHash,
  * n-gram shingles, vector quantization, …) to exactly ONE evaluation
  * per row, and keeps a shared subtree canonically equal across the
  * branches that reuse it.
  *
  * Why it exists: Catalyst pushes predicates through deterministic
  * projections by substituting aliases, and constraint/generate
  * inference manufactures predicates over derived columns — isnotnull
  * on join keys, size(arr) > 0 under posexplode. Substituted into the
  * signature projection, each such predicate re-evaluates the full
  * signature expression per row: the minhash candidate pipeline
  * measured THREE evaluations of the per-document hashing per
  * self-join side before fencing. Separately, branch-local column
  * pruning specializes each consumer's copy of a shared aggregate or
  * exchange (dropping a partial agg function, reordering the function
  * list), so the copies stop being canonically equal and AQE exchange
  * reuse silently re-runs the subtree per consumer — the failure mode
  * that made q11_stock's scalar-total branch re-scan the fact.
  *
  * The fence is a [[GraftFence]] logical node that the optimizer does
  * not know: no predicate is pushed, no constraint inferred and no
  * projection collapsed through it, and it never moves — above a
  * repartition it stays above the repartition. [[FenceStrategy]]
  * plans it as its child, so it costs nothing at run time. Both ship
  * in `graft.GraftExtensions`; a session without them fails at
  * construction rather than silently dropping the fence.
  *
  * Usage:
  * {{{
  *   Fence.guard(df.select(col("id"), expensive.as("sig")))
  *     .filter(...)   // evaluates against the materialized "sig"
  * }}}
  */
object Fence {

  /** Pushdown barrier over an expensive projection: predicates above it
    * read the materialized columns. Unused columns still prune through
    * it. Apply it AFTER any selective filters you want pushed to the
    * scan.
    */
  def guard(df: DataFrame): DataFrame = fence(df, keepAll = false)

  /** Canonicality fence for a subtree referenced MORE THAN ONCE: every
    * column is a reference of the node, so no consumer branch can prune
    * or push into its copy of the shared aggregate/exchange. Cost:
    * every consumer branch carries all of `df`'s columns up to this
    * fence — apply it only to BOUNDED frames (per-key aggregates,
    * dimension projections), where a few unused columns in a reused
    * exchange are far cheaper than recomputing the subtree per
    * consumer.
    *
    * Note: predicates INFERRED above the fence (a downstream join's
    * isnotnull on the key) stay above it in that branch only — if a
    * consumer joins on a nullable key, pre-materialize the `isNotNull`
    * inside the shared subtree too (the round-9 dup-flag join
    * discipline).
    */
  def keepAll(df: DataFrame): DataFrame = fence(df, keepAll = true)

  private def fence(df: DataFrame, keepAll: Boolean): DataFrame = {
    if (!GraftBridge.plannerStrategies(df).contains(FenceStrategy))
      throw new IllegalStateException(
        "this session cannot plan graft's optimizer fence (GraftFence): " +
          "build it with graft.GraftSession or " +
          "--conf spark.sql.extensions=graft.GraftExtensions")
    GraftBridge.withPlan(df)(p => GraftFence(if (keepAll) p.output else Nil, p))
  }
}

/** The fence node. `keep` lists the child columns the node references:
  * none for [[Fence.guard]], all of them for [[Fence.keepAll]].
  */
case class GraftFence(keep: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftFence =
    copy(child = newChild)
}

/** Plans a [[GraftFence]] as its child: the fence shapes the optimized
  * plan only and never reaches the physical one.
  */
object FenceStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraftFence(_, child) => planLater(child) :: Nil
    case _ => Nil
  }
}
