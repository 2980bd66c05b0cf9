package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column↔Expression conversions
  * (org.apache.spark.sql.classic.ExpressionUtils, Spark 4.x column-node API).
  * Lives under the org.apache.spark.sql package solely to satisfy the
  * `private[sql]` access check; exposes only public types.
  */
object SparkInternals {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an (analyzed) LogicalPlan as a DataFrame — `Dataset.ofRows` is
    * `private[sql]`. Lets an optimizer rule build its replacement plan
    * with the DataFrame API over the SAME child plans (attribute
    * identity is preserved: the wrapped plan's output attributes ARE the
    * originals). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's TABLE-function registry (`SELECT * FROM fn(...)`) —
    * `SessionState` is `private[sql]`, so the accessor lives here. */
  def tableFunctionRegistry(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry

  /** The session's SQLConf (`sessionState` is `private[sql]`) — needed
    * to run Spark's own parquet→Spark schema conversion driver-side with
    * the session's conversion flags (binaryAsString, int96AsTimestamp,
    * inferTimestampNTZ, nanosAsLong). */
  def sqlConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf

  /** Spark's own parquet reader function (`ParquetFileFormat`, vectorized
    * where the schema allows) over `required` plus the constant
    * `partition` columns each split carries, with `filters` pushed for
    * row-group and ColumnIndex page skipping. Rows come out one at a
    * time (`required` then `partition` fields); the function is
    * serializable and also runs on the driver, outside any task. */
  def parquetReader(spark: org.apache.spark.sql.SparkSession,
      required: org.apache.spark.sql.types.StructType,
      partition: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.execution.datasources.FileFormat
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(s, required, partition, required,
        filters, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        s.sessionState.newHadoopConf())
  }

  /** One Spark job's worth of file scan: `read` over `partitions` (one
    * task each) as a DataFrame of `schema` — a `FileScanRDD`, so task
    * input metrics (`recordsRead`) count the rows it decodes. */
  def fileScanFrame(spark: org.apache.spark.sql.SparkSession,
      read: org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow],
      partitions: Seq[org.apache.spark.sql.execution.datasources
        .FilePartition],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = new org.apache.spark.sql.execution.datasources.FileScanRDD(
      s, read, partitions, schema, Nil, Map.empty,
      new org.apache.spark.sql.catalyst.FileSourceOptions(
        org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(
          Map.empty[String, String])))
    s.internalCreateDataFrame(rdd, schema)
  }

  /** Block until every event posted so far has reached the session's
    * listeners (`listenerBus` is `private[spark]`); throws
    * `TimeoutException` when the bus has not emptied within 10 s. */
  def drainListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Listeners registered on the session's bus. */
  def listenerCount(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sparkContext.listenerBus.listeners.size

  /** `schema` with every field, element and value nullable — what
    * Spark's file sources report on read. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Eager checkpoint that KEEPS the frame's physical layout. Under AQE,
    * `Dataset.checkpoint`/`localCheckpoint` read
    * `executedPlan.outputPartitioning` from the `AdaptiveSparkPlanExec`
    * wrapper — a `LeafExecNode` that never overrides it — so every
    * checkpointed frame comes back `UnknownPartitioning` and every
    * downstream join/aggregate on the preserved key re-exchanges it.
    * Iterative operators (label propagation, radius-doubling KNN) lean on
    * checkpoint-preserved layout each round; losing it re-shuffles the
    * full edge frame per iteration at 100 TB. This does what
    * `Dataset.checkpoint` does, but reads partitioning/ordering from the
    * FINAL adaptive plan after execution.
    *
    * `reliable = true` writes RDD checkpoint files to the directory set
    * via `SparkContext.setCheckpointDir` (caller's responsibility), else
    * executor-local checkpoint blocks — both eager. */
  def checkpointKeepLayout(df: org.apache.spark.sql.DataFrame,
      reliable: Boolean = false,
      pinLayout: Boolean = true): org.apache.spark.sql.DataFrame =
    checkpointKeepLayoutCounted(df, reliable, pinLayout)._1

  /** [[checkpointKeepLayout]] that also returns the frame's EXACT row
    * count, read from the materializing `count()` action itself. Use this
    * count — never a `Dataset.observe` metric — when the value feeds
    * correctness (an observe accumulator can over-count if any part of
    * the plan re-executes: a reliable checkpoint's file-write job, stage
    * retries after executor loss). Observe metrics remain fine for
    * SIGN-safe loop conditions (changed > 0) and magnitude hints. */
  /** `pinLayout = false` skips the coalescing toggle: the frame's final
    * partitioning may then come back Coalesced/Unknown (downstream
    * re-exchanges it), which is the right trade for a first
    * materialization whose layout a caller is about to re-pin anyway —
    * its internal stages stay AQE-coalesced instead of running at conf-N
    * near-empty tasks. */
  def checkpointKeepLayoutCounted(df: org.apache.spark.sql.DataFrame,
      reliable: Boolean = false,
      pinLayout: Boolean = true)
      : (org.apache.spark.sql.DataFrame, Long) = {
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    // AQE partition coalescing must be OFF while this query executes: a
    // coalesced final stage reports CoalescedHashPartitioning, which the
    // static planner refuses to treat as co-partitioned downstream (it
    // re-exchanges both join sides — measured), while the plain
    // hashpartitioning(key, conf-N) it produces with coalescing off is
    // reused with ZERO exchanges. Stable conf-sized layout beats adaptive
    // shrinking for frames that a loop re-joins every round.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val coalesceWas = spark.conf.getOption(coalesceKey)
    if (pinLayout) spark.conf.set(coalesceKey, "false")
    try SQLExecution.withNewExecutionId(qe, Some(
      if (reliable) "checkpointKeepLayout" else "localCheckpointKeepLayout")) {
      val physicalPlan = qe.executedPlan
      val internalRdd = physicalPlan.execute().map(_.copy())
      if (reliable) {
        // persist BEFORE the eager count: RDD.checkpoint otherwise runs a
        // SECOND job to write the checkpoint files, recomputing the whole
        // plan — double the compute and, worse, every observe/SQL-metric
        // accumulator in the plan merges twice (a 2x node count turned
        // pageRank ranks wrong in reliable mode before this). The write
        // job now reads the cached blocks instead.
        internalRdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        internalRdd.checkpoint()
      } else internalRdd.localCheckpoint()
      val rows = internalRdd.count() // eager: materialize (+ write) now
      if (reliable) internalRdd.unpersist(blocking = false)
      val finalPlan = physicalPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
      // SMJ outputs report a PartitioningCollection; LogicalRDD wants one
      // concrete partitioning — Spark's own checkpoint takes the first
      // leaf, which references only this plan's output attributes
      def firstLeaf(p: Partitioning): Partitioning = p match {
        case c: PartitioningCollection => firstLeaf(c.partitionings.head)
        case o => o
      }
      // carry the origin plan's statistics and constraints into the new
      // leaf exactly like Spark's own LogicalRDD.fromDataset — without
      // them the checkpointed frame sizes as defaultSizeInBytes (huge)
      // and every downstream join silently loses its broadcast
      // pin = false claims exactly what the stock checkpoint claims
      // (unknown layout, no ordering): a Coalesced claim is not reusable
      // by the static planner anyway and measurably perturbs join
      // planning (hits 32 -> 77 jobs when it was claimed)
      val (claimPart, claimOrd) =
        if (pinLayout)
          (firstLeaf(finalPlan.outputPartitioning), finalPlan.outputOrdering)
        else
          (org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0),
            Nil)
      val base = LogicalRDD(ds.logicalPlan.output, internalRdd,
        claimPart, claimOrd,
        qe.logical.isStreaming)(spark, None, None)
      val (stats, constraints) =
        LogicalRDD.rewriteStatsAndConstraints(base, qe.optimizedPlan)
      val leaf = LogicalRDD(base.output, internalRdd,
        claimPart, claimOrd,
        qe.logical.isStreaming)(spark, stats, constraints)
      (org.apache.spark.sql.classic.Dataset.ofRows(spark, leaf), rows)
    } finally if (pinLayout) coalesceWas match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None => spark.conf.unset(coalesceKey)
    }
  }

  /** Ensure the driver's StateStoreCoordinator RPC endpoint exists. A
    * stateful STREAMING query registers it on start, but BATCH execution of
    * a stateful operator (transformWithState on a batch Dataset) skips that
    * path and executors then fail looking the endpoint up. `forDriver` is
    * idempotent — it registers the endpoint or returns the existing one. */
  def ensureStateStoreCoordinator(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef
      .forDriver(org.apache.spark.SparkEnv.get,
        org.apache.spark.sql.internal.SQLConf.get)
}
