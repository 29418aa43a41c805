package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{FileFormat, InsertIntoHadoopFsRelationCommand}

/** Access shim for [[graft.plans.AsOfJoin]]: wrapping a custom logical
  * node into a user-facing DataFrame needs `Dataset.ofRows`, which is
  * `private[sql]` (the classic-Spark internal constructor). Same pattern
  * as [[org.apache.spark.GraftListenerDrain]] — narrow, documented
  * crossings into the Spark package, no behavior of their own.
  */
object GraftPlanBridge {
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** Re-tag a batch DataFrame as STREAMING for a v1 `Source.getBatch`
    * return value — the `FileStreamSource` pattern
    * (`internalCreateDataFrame(rdd, schema, isStreaming = true)`),
    * which is `private[sql]`. Used by
    * [[graft.sources.SnapshotChangefeedSource]].
    */
  def streamingFrame(s: SparkSession, df: DataFrame): DataFrame = {
    val cs = s.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The reverse crossing, for a v1 `Sink.addBatch` input: the
    * micro-batch arrives as a streaming-tagged DataFrame that batch
    * writers refuse; re-wrap its physical rows as a plain batch frame
    * (the pattern every v1 sink uses around its write path). Used by
    * [[graft.sources.SnapshotSink]].
    */
  def batchFrame(s: SparkSession, df: DataFrame): DataFrame = {
    val cs = s.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Run exactly the command `df.write.partitionBy(partCols: _*)
    * .save(out)` runs for a file source — one
    * `InsertIntoHadoopFsRelationCommand`, executed as
    * `DataFrameWriter` executes it — but with a `FileFormat` INSTANCE:
    * the writer can only name a format class, and the snapshot store's
    * write helper ([[graft.sources.SnapshotTxn.writeLeaves]]) hands
    * the write a format that carries its per-file stats accumulator.
    * `ErrorIfExists`: `out` is always a fresh attempt dir.
    */
  def writeFiles(df: DataFrame, format: FileFormat, out: String,
                 partCols: Seq[String]): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val cs = ds.sparkSession
    val plan = ds.logicalPlan
    val path = new Path(out)
    val qualified = path.getFileSystem(cs.sessionState.newHadoopConf())
      .makeQualified(path)
    val resolver = cs.sessionState.conf.resolver
    val parts = partCols.map(c => plan.output.find(a => resolver(a.name, c))
      .getOrElse(throw new IllegalArgumentException(s"partition column " +
        s"$c is not among ${plan.output.map(_.name).mkString(", ")}")))
    val cmd = InsertIntoHadoopFsRelationCommand(qualified, Map.empty,
      ifPartitionNotExists = false, parts, None, format, Map.empty, plan,
      SaveMode.ErrorIfExists, None, None, plan.output.map(_.name))
    new QueryExecution(cs, cmd, ds.queryExecution.tracker,
      shuffleCleanupMode = QueryExecution.determineShuffleCleanupMode(
        cs.sessionState.conf)).assertCommandExecuted()
  }
}
