package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge for graft's MERGE INTO command: materialize an
  * ALREADY-ANALYZED logical plan as a DataFrame. `Dataset.ofRows` is
  * `private[sql]`, so this one-liner lives in Spark's package namespace
  * — the standard pattern for Spark-ecosystem libraries that compile
  * commands holding resolved sub-plans (a RunnableCommand's `run` gets
  * a session and a plan, and needs a public way back to Dataset-land).
  * The other methods are the same kind of narrow way in to a
  * `private[sql]`/`private[spark]` helper. */
object GraftSqlBridge {
  def ofRows(
      session: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(session.asInstanceOf[SparkSession], plan)

  /** A frame over `build(df's analyzed plan)` on df's session — how the
    * engine puts its own logical nodes on top of a frame. Fails with
    * `unplanned` when the session's planner lacks `strategy`, the one
    * that plans those nodes. */
  def wrap(
      df: org.apache.spark.sql.DataFrame,
      strategy: org.apache.spark.sql.execution.SparkStrategy, unplanned: => Throwable)(
      build: LogicalPlan => LogicalPlan): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    if (!ds.sparkSession.sessionState.planner.strategies.contains(strategy)) throw unplanned
    Dataset.ofRows(ds.sparkSession, build(ds.queryExecution.analyzed))
  }

  /** The partition count a `repartition(cols)` over `df` plans on its
    * session (`SQLConf.numShufflePartitions`: AQE's initial partition
    * number when coalescing is on, else `spark.sql.shuffle.partitions`). */
  def shufflePartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.asInstanceOf[Dataset[org.apache.spark.sql.Row]].sparkSession
      .sessionState.conf.numShufflePartitions

  /** A parquet scan over an explicit file index: the relation
    * `spark.read.schema(dataSchema).parquet(..)` resolves to, with the
    * caller's index in place of the listing `InMemoryFileIndex`. The
    * schema goes in as-nullable exactly as `DataSource.resolveRelation`
    * passes it (`StructType.asNullable` is `private[spark]`). */
  def parquetScan(
      session: org.apache.spark.sql.SparkSession,
      location: org.apache.spark.sql.execution.datasources.FileIndex,
      dataSchema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val relation = HadoopFsRelation(location,
      new org.apache.spark.sql.types.StructType(), dataSchema.asNullable, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty)(session)
    ofRows(session, LogicalRelation(relation))
  }

  /** Flag a fully built batch frame as STREAMING for a V1 streaming
    * Source's `getBatch` (MicroBatchExecution requires the per-trigger
    * plan to be streaming-flagged — the same `LogicalRDD.fromDataset`
    * wrap the built-in sources use). The frame's own plan compiles
    * unchanged underneath (`toRdd` is the lazily compiled native plan —
    * pushdown, pruning, codegen all intact); only the leaf's streaming
    * bit changes. */
  def asStreamingBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = true))
  }

  /** Wrap a catalyst Expression as a user-facing Column (the classic
    * `ExpressionUtils.column` is `private[sql]`). graft's MERGE/DML
    * compilers use it to evaluate TARGET-referencing action expressions
    * AFTER the classification join: the analyzed expression's target
    * attributes are rewritten to `UnresolvedAttribute`s naming the
    * joined frame's `_graft_t_<col>` columns, and the analyzer resolves
    * them against that frame like any user column. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    ExpressionUtils.column(e)

  /** The inverse of [[column]]: a Column's (unresolved) catalyst
    * expression, so an engine expression node can take Column children. */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    ExpressionUtils.expression(c)

  /** The inverse, for a V1 streaming Sink's `addBatch`: rebind the
    * micro-batch frame to its compiled RDD with the streaming flag OFF —
    * the `ForeachBatchSink` idiom. The sink's write path runs several
    * actions over the frame (cardinality probe, classification join,
    * bucket write); a streaming-flagged plan rejects any new action with
    * "streaming sources must be executed with writeStream.start()".
    * [[graft.streaming.CdcPipeline.inTasks]] uses the same rebind to move
    * a driver-local batch's evaluation into tasks. */
  def asBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
  }
}
