package org.apache.spark.sql.graftglue

import org.apache.spark.sql.{classic, DataFrame, Row}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** The one internal seam a V1 streaming `Source` implementation
  * needs: `getBatch` must hand the engine a DataFrame whose leaves
  * are flagged `isStreaming = true` (MicroBatchExecution asserts it),
  * and the only constructors for such a frame — `Dataset.ofRows`,
  * `internalCreateDataFrame` — are `private[sql]`. This object lives
  * under the `org.apache.spark.sql` package purely to cross that
  * visibility line, exactly the way external connectors (Delta's
  * DeltaSource among them) bridge the same seam; it contains no
  * copied Spark code. */
object StreamShim {

  /** Re-issue `df`'s analyzed plan with its relation leaves marked
    * streaming, so a V1 `Source.getBatch` can return an ordinary
    * parquet scan. */
  def asStreamingBatch(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val plan = cdf.queryExecution.analyzed.transform {
      case lr: LogicalRelation if !lr.isStreaming =>
        lr.copy(isStreaming = true)
    }
    classic.Dataset.ofRows(cdf.sparkSession, plan)
  }

  /** The sink-side mirror of [[asStreamingBatch]]: a V1 `Sink`'s
    * `addBatch` receives a DataFrame backed by the engine's
    * IncrementalExecution, which ordinary writers refuse ("write on
    * streaming dataset"). Re-issue its rows as a plain batch frame —
    * the micro-batch's physical plan executes ONCE here and the
    * copied rows feed the sink's writer, the same shape Spark's own
    * V1 sinks use. */
  def asBatch(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = cdf.queryExecution.toRdd.map(_.copy())
    cdf.sparkSession.internalCreateDataFrame(rdd, cdf.schema,
      isStreaming = false)
  }

  /** Build the V1 `StreamingRelation` a path-addressed
    * `readStream.format(...)` plans, over an explicit option map and
    * PRESERVED output attributes — what the catalog-name streaming
    * rewrite substitutes for a `StreamingRelationV2`, so a stream on
    * a table NAME runs the same proven source as a stream on its
    * path. `DataSource` and the relation constructor are
    * private[sql], hence this bridge. */
  def streamingRelation(session: org.apache.spark.sql.SparkSession,
      className: String, options: Map[String, String],
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val ds = org.apache.spark.sql.execution.datasources.DataSource(
      sparkSession = session.asInstanceOf[classic.SparkSession],
      className = className,
      options = options)
    org.apache.spark.sql.execution.streaming.runtime
      .StreamingRelation(ds, className, output)
  }

  /** One parquet `HadoopFsRelation` over `index` as a DataFrame — the
    * relation Spark's own file sources plan (filter pushdown, column
    * pruning, codegen, `_metadata`), both schemas made nullable the
    * way `DataSource.resolveRelation` makes them (asNullable is
    * private[spark], hence this bridge). */
  def scanOf(session: org.apache.spark.sql.SparkSession,
             index: org.apache.spark.sql.execution.datasources.FileIndex,
             dataSchema: org.apache.spark.sql.types.StructType): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      LogicalRelation(org.apache.spark.sql.execution.datasources
        .HadoopFsRelation(index, index.partitionSchema.asNullable,
          dataSchema.asNullable, None,
          new org.apache.spark.sql.execution.datasources.parquet
            .ParquetFileFormat, Map.empty)(session)))
}
