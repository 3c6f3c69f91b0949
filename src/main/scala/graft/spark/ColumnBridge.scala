package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge into Spark 4's `private[sql]` Column ⇄ Expression converters, needed
 * to expose custom Catalyst expressions (e.g. graft.functions.Fingerprint32)
 * as user-facing `Column`s. Lives in the org.apache.spark.sql package purely
 * for access; contains no Spark-internal logic of its own.
 */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** Access bridge for the `private[sql]` V1Table wrapper the session
  * catalog returns for metastore tables — the graft-lake DSv2 catalog
  * needs to unwrap it to decide whether a loaded table is a lake table
  * (the same unwrap Delta's DeltaCatalog does from its own sql
  * subpackage). */
object GraftCatalogBridge {
  def v1CatalogTable(t: connector.catalog.Table)
      : Option[catalyst.catalog.CatalogTable] = t match {
    case v1: connector.catalog.V1Table => Some(v1.v1Table)
    case _ => None
  }
}

/** Public face of the `private[sql]` V2TableWithV1Fallback trait: a v2
  * table extending this exposes its v1 CatalogTable, which is the seam
  * Spark's streaming resolution uses to fall back to a V1
  * StreamSourceProvider — `spark.readStream.table("t")` on a lake table
  * then rides the same version-offset changelog source as
  * `readStream.format("graft-lake")` (Delta's DeltaTableV2 uses the
  * same trait for the same reason). */
trait GraftV1FallbackTable extends connector.catalog.V2TableWithV1Fallback

/** Same access-only bridge for `Dataset.ofRows` — turns an analyzed
  * LogicalPlan back into a DataFrame inside a RunnableCommand (the lake
  * DML commands execute their rewritten INSERT/UPDATE/DELETE queries
  * through the engine's public GraftLake API, which takes DataFrames). */
object GraftDatasetBridge {
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-tag a batch DataFrame as a STREAMING one — what a V1 streaming
    * `Source.getBatch` must return (`FileStreamSource` does exactly this
    * through the same `internalCreateDataFrame(isStreaming = true)`). */
  def asStreaming(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The reverse bridge for a V1 streaming `Sink.addBatch`: the incoming
    * micro-batch DataFrame is backed by the query's IncrementalExecution —
    * planning a NEW action over it (e.g. `.write`) trips "queries with
    * streaming sources must be executed with writeStream.start()". Pin its
    * already-planned RDD into a plain batch DataFrame instead (the same
    * move console/community sinks make). */
  def pinAsBatch(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}

/** Access bridge for the `private[sql]` schema checks Spark's file-source
  * write path runs before it writes a row (`DataSource.planForWriting`,
  * `InsertIntoHadoopFsRelationCommand`, `FileFormatWriter`). The lake
  * writes its data files without that path, so it runs the same checks,
  * in the same order, through here: a batch Spark would refuse fails
  * with Spark's own error. */
object GraftWriteBridge {
  def checkWritable(spark: SparkSession,
      format: execution.datasources.FileFormat,
      schema: types.StructType): Unit = {
    val conf = spark.sessionState.conf
    val name = format.toString
    // DataSource.planForWriting: CalendarInterval columns, empty schemas
    schema.foreach(f => catalyst.util.TypeUtils.invokeOnceForInterval(
      f.dataType, forbidAnsiIntervals = false)(
      throw errors.QueryCompilationErrors.dataTypeUnsupportedByDataSourceError(name, f)))
    execution.datasources.DataSource.validateSchema(name, schema, conf)
    // InsertIntoHadoopFsRelationCommand: duplicate names, collated map keys
    if (!format.allowDuplicatedColumnNames)
      util.SchemaUtils.checkColumnNameDuplication(
        schema.fieldNames.toSeq, conf.caseSensitiveAnalysis)
    if (!conf.allowCollationsInMapKeys)
      util.SchemaUtils.checkNoCollationsInMapKeys(schema)
    // FileFormatWriter: types the format cannot store, field names
    execution.datasources.DataSourceUtils.verifySchema(format, schema)
    execution.datasources.DataSourceUtils.checkFieldNames(format, schema)
  }
}
