package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression converters so graft
  * can expose native Catalyst expressions as ordinary Columns (the classic
  * extension-library pattern). Scope limited to exactly these two calls.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** EAGER Column → Catalyst conversion: `expression` can return a lazy
    * `ColumnNodeExpression` LEAF (the whole ColumnNode tree opaque inside
    * it, deferred to analysis) — useless for tree surgery. This runs the
    * classic converter NOW, yielding real `UnresolvedAttribute` /
    * `UnresolvedFunction` catalyst nodes a `transformUp` can rewrite. */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Register a native expression under a SQL function name in this session,
    * making it callable from spark.sql text. */
  def registerExpression(
      spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "internal")

  /** Rebind a V1 streaming Sink's per-batch DataFrame (which wraps the
    * engine's IncrementalExecution and must not be re-analyzed — any
    * DataFrame-writer call on it fails with "streaming sources must be
    * executed with writeStream") into an ordinary BATCH DataFrame over the
    * already-planned rows: the executed RDD is wrapped verbatim, so no
    * recomputation, no re-analysis, same schema. The per-partition
    * `copy()` is required because Spark reuses `InternalRow` buffers. */
  def rebatch(data: Dataset[Row]): Dataset[Row] = {
    val ds = data.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd.map(_.copy()), ds.schema, isStreaming = false)
  }

  /** Wrap a source relation as a LogicalPlan node — the analyzer-rule
    * counterpart of `DataFrameReader.load` (LogicalRelation.apply is
    * `private[sql]`; this bridge is the one sanctioned crossing). */
  def logicalRelation(rel: org.apache.spark.sql.sources.BaseRelation):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    execution.datasources.LogicalRelation(rel)

  /** Estimated input parallelism of a frame WITHOUT building its physical
    * plan (r15 advisor finding: `.rdd.getNumPartitions` plans the whole
    * physical RDD lineage — for file sources that repeats split planning,
    * and it is driver-side overhead on every call). Walks the OPTIMIZED
    * logical plan instead: an explicit Repartition answers directly; a
    * file scan is estimated by mirroring `FilePartition.maxSplitBytes`
    * arithmetic over the FileIndex's cached listing (no job, no physical
    * plan); anything else falls back to the physical count. The estimate
    * can differ from Spark's exact bin-packing by ~nFiles·openCost/split —
    * callers use it for coarse `>= parallelism` routing, never semantics. */
  def inputSplitEstimate(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    df.queryExecution.optimizedPlan.collectFirst {
      case r: Repartition => r.numPartitions
      case r: RepartitionByExpression =>
        r.optNumPartitions.getOrElse(conf.numShufflePartitions)
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        val fs = l.relation.asInstanceOf[HadoopFsRelation]
        val nFiles = fs.location.inputFiles.length.toLong
        val openCost = conf.filesOpenCostInBytes
        val totalWithOpen = fs.location.sizeInBytes + nFiles * openCost
        val minPartitionNum: Long = conf.filesMinPartitionNum
          .getOrElse(spark.sparkContext.defaultParallelism).toLong
        val bytesPerCore = totalWithOpen / math.max(1L, minPartitionNum)
        val maxSplit =
          math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore))
        math.max(1L, (totalWithOpen + maxSplit - 1) / math.max(1L, maxSplit)).toInt
    }.getOrElse(df.rdd.getNumPartitions)
  }

  /** Block until every listener event posted so far has been delivered.
    * The listener bus is asynchronous and its `waitUntilEmpty` is
    * `private[spark]`; a caller counting the SQL executions or jobs an
    * action ran drains the bus before reading its counters. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Analyze + wrap a LogicalPlan as a DataFrame — the command-side
    * counterpart of `spark.sql` for a plan captured BEFORE analysis (an
    * INSERT command defers its source query to run time; `Dataset.ofRows`
    * is `private[sql]`). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
