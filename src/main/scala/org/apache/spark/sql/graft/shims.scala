package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.rdd.{RDD, RDDOperationScope}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ catalyst Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`,
  * columnNodeSupport.scala); extension libraries shim them from inside the
  * sql package — this object is that shim, and the only code in this repo
  * living outside the `graft` namespace.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Handle to the persisted RDD behind an (eager) `localCheckpoint()`ed
  * Dataset, so iterative algorithms can release superseded checkpoints by
  * their own handle instead of diffing the global `sc.getPersistentRDDs`
  * registry (which races against concurrent jobs persisting RDDs of their
  * own). `LogicalRDD` is `private[sql]`, hence this lives in the shim.
  */
object CheckpointHandle {
  /** The checkpointed RDD backing `df`, if `df` is the direct result of an
    * eager `localCheckpoint()`/`checkpoint()` call.
    */
  def rddOf(df: DataFrame): Option[RDD[_]] = df.queryExecution.analyzed match {
    case l: LogicalRDD => Some(l.rdd)
    case _ => None
  }

  /** Unpersist the checkpoint backing `df` (no-op for non-checkpoint plans). */
  def release(df: DataFrame): Unit =
    rddOf(df).foreach(_.unpersist(blocking = false))

  /** Runs `checkpoint`, an eager checkpoint of a Dataset; when it throws,
    * unpersists the RDD the failed call had persisted. Spark's eager
    * checkpoint persists its internal `map(_.copy())` RDD before the job
    * and keeps it when the job fails, and no handle ever reaches it. That
    * RDD takes its operation scope's parent from this thread's
    * `spark.rdd.scope` property at creation (the plan's own RDDs ignore
    * the parent scope), so a scope set for the call marks exactly the
    * RDDs this call made, whatever other threads persist meanwhile.
    */
  def releasingOnFailure(sc: SparkContext)(checkpoint: => DataFrame): DataFrame = {
    val marker = new RDDOperationScope("graft.checkpoint")
    val prev = sc.getLocalProperty(SparkContext.RDD_SCOPE_KEY)
    sc.setLocalProperty(SparkContext.RDD_SCOPE_KEY, marker.toJson)
    try checkpoint
    catch {
      case NonFatal(t) =>
        sc.getPersistentRDDs.values
          .filter(_.scope.exists(_.parent.exists(_.id == marker.id)))
          .foreach(_.unpersist(blocking = false))
        throw t
    } finally sc.setLocalProperty(SparkContext.RDD_SCOPE_KEY, prev)
  }
}

/** Bloom-filter semi-join pruning built from Spark's OWN sketch
  * expressions (`BloomFilterAggregate` / `BloomFilterMightContain`,
  * the machinery behind `spark.sql.optimizer.runtime.bloomFilter.*`),
  * wired explicitly: the build side becomes a scalar subquery computing
  * one bloom-filter binary, and the probe side filters on
  * `might_contain(bloom, xxhash64(key))` BEFORE the join shuffle.
  *
  * `BloomFilterMightContain` requires its filter operand to be foldable
  * or a scalar subquery (a per-row bloom column would force a
  * deserialize per row), so the subquery form is the only plan shape
  * that streams: no driver-side collect, the bloom builds distributed
  * (partial aggregation merges per-partition filters) and ships to probe
  * tasks like any scalar-subquery result. Catalyst internals, hence the
  * shim.
  */
object BloomBridge {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Literal, ScalarSubquery, XxHash64, BloomFilterMightContain}
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
  import org.apache.spark.sql.catalyst.plans.logical.Aggregate

  /** Predicate column: `might_contain(<bloom of buildKey over build>,
    * xxhash64(probeKey))` — true for every probe row whose key exists in
    * `build` (plus a `fpp` fraction of false positives; no false
    * negatives, so exact-join semantics are preserved when an exact join
    * follows the prune).
    */
  def mightContain(build: DataFrame, buildKey: Column, probeKey: Column,
      expectedItems: Long, fpp: Double = 0.03): Column = {
    // optimal bloom sizing: m = -n ln(p) / (ln 2)^2
    val numBits = math.max(64L,
      math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val agg = BloomFilterAggregate(
      new XxHash64(Seq(ExpressionUtils.expression(buildKey))),
      Literal(expectedItems), Literal(numBits), 0, 0).toAggregateExpression()
    val buildPlan = Aggregate(Nil, Seq(Alias(agg, "graft_bloom")()),
      build.queryExecution.analyzed)
    ExpressionUtils.column(BloomFilterMightContain(
      ScalarSubquery(buildPlan),
      new XxHash64(Seq(ExpressionUtils.expression(probeKey)))))
  }
}
