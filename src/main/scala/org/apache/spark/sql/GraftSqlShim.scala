package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort}

/** Minimal shim into `private[sql]` plan and column construction:
  * wrapping graft's custom logical operators (e.g. AsOfJoinPlan) in a
  * DataFrame, and graft's Catalyst kernels in a Column. This is the
  * standard extension-library pattern: one file in the
  * org.apache.spark.sql package exposing exactly the internals the
  * library needs, nothing else.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Column over a Catalyst expression: how
    * [[graft.functions.VectorFunctions]]' builders put a kernel node
    * into a plan without a function registry lookup.
    */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The (possibly unresolved) Catalyst expression behind a Column, to
    * become a kernel node's child.
    */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def analyzedPlan(df: Dataset[_]): LogicalPlan =
    df.queryExecution.analyzed

  /** `df` without the global sort at its top, looking through
    * deterministic Projects and Filters: the same rows, for a consumer
    * that reads them as a set ([[graft.Materialized]]'s memo build,
    * `Dedup.connectedGroups`' input). Spark's `EliminateSorts` does
    * this under joins and aggregates, but not under a checkpoint or a
    * `mapPartitions`. Any other top is returned as is.
    */
  def withoutTopSort(df: DataFrame): DataFrame = {
    def strip(p: LogicalPlan): Option[LogicalPlan] = p match {
      case Sort(_, true, child, _) => Some(strip(child).getOrElse(child))
      case pr: Project if pr.projectList.forall(_.deterministic) =>
        strip(pr.child).map(c => pr.copy(child = c))
      case f: Filter if f.condition.deterministic =>
        strip(f.child).map(c => f.copy(child = c))
      case _ => None
    }
    strip(df.queryExecution.analyzed).map(ofRows(df.sparkSession, _)).getOrElse(df)
  }

  /** `SparkSession.sessionUUID` is `private[sql]` — unique and stable
    * per session, unlike an identity hash code (which a new session
    * can collide with after the old one is GC'd). Used as the memo
    * cache key in [[graft.Materialized]].
    */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Storage footprint (memory + disk blocks) of an eagerly
    * localCheckpointed frame — the size [[graft.Materialized]] compares
    * with its promotion threshold. Queries the block manager MASTER
    * synchronously per block: `getRDDStorageInfo` is filled
    * asynchronously via the listener bus, so right after the checkpoint
    * it can under-report and nondeterministically skip a promotion.
    * Block puts report to the master inline (`tellMaster`). Replicated
    * copies count once (max per block, then summed). None when the
    * plan is not a checkpoint-backed LogicalRDD or no block is
    * registered.
    */
  def checkpointBytes(df: Dataset[_]): Option[Long] =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        val master = org.apache.spark.SparkEnv.get.blockManager.master
        val sizes = l.rdd.partitions.indices.flatMap { i =>
          val statuses = master.getBlockStatus(
            org.apache.spark.storage.RDDBlockId(l.rdd.id, i),
            askStorageEndpoints = true)
          statuses.values.map(s => s.memSize + s.diskSize).maxOption
        }
        if (sizes.isEmpty) None else Some(sizes.sum)
      case _ => None
    }

  /** Release a localCheckpointed frame's blocks. Only safe when the
    * frame will never be read again (the checkpoint truncated its
    * lineage, so the data is unrecoverable afterwards) —
    * [[graft.Materialized]] calls this after promoting a memo to its
    * parquet sink table, which is what every later read serves.
    */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD => l.rdd.unpersist(false); ()
      case _ => ()
    }
}
