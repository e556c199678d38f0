package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the sql-private Column↔Expression converters, so graft can
  * wrap custom Catalyst expressions (e.g. graft.plans.MinhashBands) as
  * ordinary Columns. Standard extension-library technique.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a typed Aggregator as a catalyst AggregateFunction, so a
    * UDAF can register through the same FunctionRegistry/injectFunction
    * path as ordinary expressions (the Column-level bridge yields a
    * lazy, unevaluable node for aggregates). Returns the BARE
    * ScalaAggregator — the analyzer's validateFunction applies
    * toAggregateExpression(isDistinct, filter) itself, which is what
    * keeps `agg(DISTINCT x)` / `agg(x) FILTER (WHERE ...)` SQL working
    * (pre-wrapping it here broke both with an AnalysisException).
    */
  def aggregatorExpression[IN, BUF, OUT](
      agg: expressions.Aggregator[IN, BUF, OUT], inputEnc: Encoder[IN],
      name: String, children: Seq[Expression]): Expression =
    execution.aggregate.ScalaAggregator(
      expressions.UserDefinedAggregator(agg, inputEnc, Some(name), true, true),
      children)

  /** True iff `shortName` resolves to a registered data source — the
    * check Spark itself runs at read/write time. Spark 4 ships the
    * avro CLASSES inside spark-sql but the "avro" SOURCE registration
    * still lives in the external spark-avro artifact, so a bare
    * Class.forName probe false-positives; only the real lookup tells.
    */
  def dataSourceAvailable(shortName: String): Boolean =
    try {
      execution.datasources.DataSource.lookupDataSource(
        shortName, internal.SQLConf.get)
      true
    } catch { case _: Exception => false }

  /** `might_contain(<literal filter bytes>, value)` as a Column — the
    * codegen'd Catalyst membership probe Spark's own runtime row-level
    * filtering uses (InjectRuntimeFilter). `value` must be LongType and
    * hashed the same way the filter was built (the filter stores raw
    * longs via putLong/mightContainLong). The serialized filter rides
    * in the plan as a foldable Literal, satisfying the expression's
    * constant-or-subquery input check.
    */
  def bloomMightContain(filterBytes: Array[Byte], value: Column): Column =
    classic.ExpressionUtils.column(
      catalyst.expressions.BloomFilterMightContain(
        catalyst.expressions.Literal.create(filterBytes, types.BinaryType),
        classic.ExpressionUtils.expression(value)))

  /** Cast with an EXPLICIT "UTC" zone id, bypassing session-timezone
    * resolution: ResolveTimeZone only fills `timeZoneId` when it is
    * empty, so the pinned zone survives analysis. This is how a
    * TIMESTAMP_NTZ wall clock is interpreted AS UTC deterministically —
    * a bare `.cast(TimestampType)` would shift the epoch by whatever
    * session zone the caller happens to run under.
    */
  def castUtc(c: Column, dt: types.DataType): Column =
    classic.ExpressionUtils.column(
      catalyst.expressions.Cast(
        classic.ExpressionUtils.expression(c), dt, Some("UTC")))

  /** Release the block-manager storage behind a `localCheckpoint(true)`d
    * Dataset. A local checkpoint persists its internal RDD's blocks and
    * frees them only when the ContextCleaner GCs the referencing RDD —
    * in a long-lived large-heap driver (any 100 TB job stream) GC is
    * rare, so superseded iteration state (CC star rounds, PageRank
    * lineage cuts) piles up in the block manager and squeezes execution
    * memory for every later job. Call this on a checkpointed frame once
    * nothing will read it again; the next checkpoint in the loop must
    * already be materialized (eager=true does that). A frame built over
    * checkpoints frees every one its plan reads; a plan reading none is
    * a no-op.
    */
  def freeLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.logical.foreach {
      case lr: execution.LogicalRDD =>
        lr.rdd.cleanShuffleDependencies(blocking = false)
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The ids of the checkpoint RDDs `df`'s plan reads. */
  def checkpointRddIds(df: Dataset[_]): Set[Int] =
    df.queryExecution.logical.collect { case lr: execution.LogicalRDD => lr.rdd.id }.toSet

  /** A frame over `f` applied to `df`'s analyzed plan, in `df`'s
    * session — how a custom logical node (graft.functions.GraftFence)
    * enters the Dataset API.
    */
  def withPlan(df: Dataset[_])(
      f: catalyst.plans.logical.LogicalPlan => catalyst.plans.logical.LogicalPlan): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession, f(ds.logicalPlan))
  }

  /** The planner strategies of `df`'s session, extensions included. */
  def plannerStrategies(df: Dataset[_]): Seq[execution.SparkStrategy] =
    df.asInstanceOf[classic.Dataset[_]].sparkSession.sessionState.planner.strategies

  /** Apply an extensions object's injected functions to a session's
    * FunctionRegistry — what session construction does with
    * `spark.sql.extensions`, callable from tests (the conf itself is
    * static and can't be added to an already-running SparkContext).
    */
  def applyInjectedFunctions(ext: SparkSessionExtensions,
      reg: catalyst.analysis.FunctionRegistry): Unit =
    ext.registerFunctions(reg)
}
