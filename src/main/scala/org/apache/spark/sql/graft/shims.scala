package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to `private[sql]` Column<->Expression conversions (the classic
  * `new Column(expr)` constructor was removed in Spark 4's split of the
  * Column API into sql-api ColumnNodes).
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Replace a checkpointed frame's carried-over stats ESTIMATE with
    * measured ones (MEASURED, round 13): `Dataset.localCheckpoint`
    * builds a LogicalRDD whose `originStats` is the stats of the plan
    * it truncates — even when EAGER, i.e. even after the data was
    * fully materialized. Iterative loops that join a chain against
    * frames derived from the chain itself therefore COMPOUND the
    * estimate across rounds no matter how they checkpoint (join size
    * estimates multiply: measured ~3x bit-length per round on kCore's
    * incremental-degree shape — plan-time BigInteger blowup by round
    * ~15), so the only firebreak is to overwrite `originStats` with
    * stats of the MATERIALIZED rdd. The caller supplies the measured
    * rowCount (one cached-scan count job) and a sizeInBytes derived
    * from it; broadcast decisions then keep working (a no-stats
    * LogicalRDD would fall back to defaultSizeInBytes = never
    * broadcast). No-op on frames that are not checkpointed
    * LogicalRDDs.
    */
  /** Actual cached bytes of a checkpointed frame's materialized RDD
    * (mem + disk, from the driver's block-manager registry — metadata
    * only, no job). None when the frame is not a LogicalRDD or its
    * blocks are not (fully) materialized yet — i.e. for LAZY
    * checkpoints before their first action. This is what lets
    * [[withMeasuredStats]] callers carry honest sizes for
    * VARIABLE-WIDTH schemas (string ids in connectedComponents),
    * where rowCount x defaultSize is a fixed guess that can
    * underestimate drastically and mis-broadcast (round-13 ADVICE).
    */
  /** Cut the LOGICAL lineage of a persisted frame (round 18): returns
    * a frame whose logical plan is a [[LogicalRDD]] LEAF over the
    * input's execution RDD, stats carried over from the origin
    * (`LogicalRDD.fromDataset` — the `Dataset.checkpoint` machinery,
    * minus the extra serialization round).
    *
    * Why this exists: a composed pipeline that persists N stacked
    * frames (tagged -> scrubbed -> flagged -> clean -> weighted ...)
    * and fans each out into several consumers produces a logical plan
    * whose PRINTED form is exponential in the stack depth — every
    * InMemoryRelation occurrence renders its entire cached child
    * plan, which itself renders nested InMemoryRelations. The work is
    * deduplicated at runtime (cache scans), but AQE renders the plan
    * description string on every stage update
    * (`ExplainUtils.generateOperatorIDs` / `generateTreeString`), and
    * that DRIVER-side rendering measured 20-60 s per action on the
    * gated pretraining spine (SCALE.md "Round 18": second write of a
    * fully-cached result = 38 s wall, 3 task-seconds). A LogicalRDD
    * leaf renders as one `Scan ExistingRDD` line — the rendering cost
    * disappears and the optimizer/canonicalization walk shrinks with
    * it.
    *
    * Contract: EAGER — building the execution RDD under AQE
    * materializes the frame's stages (and therefore its cache) at
    * call time. Call AFTER `persist`, use the returned leaf for every
    * downstream reference, and release the PERSISTED original when
    * done (the run-handle discipline). After release, downstream
    * actions still work — the leaf's RDD recomputes through the
    * now-uncached plan — just slower. Deterministic inputs stay
    * deterministic: the RDD re-executes the same physical plan.
    */
  def cutLineage(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  def materializedSizeInBytes(df: DataFrame): Option[Long] =
    df.queryExecution.logical match {
      case l: LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == l.rdd.id)
          .filter(i => i.isCached &&
            i.numCachedPartitions == l.rdd.getNumPartitions)
          .map(i => math.max(i.memSize + i.diskSize, 1L))
      case _ => None
    }

  def withMeasuredStats(df: DataFrame, sizeInBytes: BigInt,
      rowCount: BigInt): DataFrame =
    df.queryExecution.logical match {
      case l: LogicalRDD =>
        val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val stats = Statistics(sizeInBytes = sizeInBytes.max(1),
          rowCount = Some(rowCount.max(0)))
        val nl = LogicalRDD(l.output, l.rdd, l.outputPartitioning,
          l.outputOrdering, l.isStreaming, l.stream)(
          spark, Some(stats), None)
        org.apache.spark.sql.classic.Dataset.ofRows(spark, nl)
      case _ => df
    }
}
