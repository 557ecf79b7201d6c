package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** Minimal access bridge for building DataFrames from custom logical
  * plans (graft.plans): `Dataset.ofRows` and `logicalPlan` are
  * `private[sql]`, which is the sanctioned seam for engine
  * extensions — this object lives under `org.apache.spark.sql` purely
  * to cross it, and holds no logic of its own. */
object Bridge {

  /** The analyzed logical plan behind a DataFrame. */
  def plan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[_]].logicalPlan

  /** Wrap a logical plan back into a DataFrame on `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Rebind a V1 streaming sink's `addBatch` frame (a Dataset over the
    * engine's IncrementalExecution) as a plain BATCH DataFrame over the
    * already-planned RDD — the standard sink idiom (cf. Delta's sink):
    * writing `data` directly would re-analyze a plan containing
    * streaming sources and fail, while the executed RDD is exactly the
    * micro-batch. */
  def unstream(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    ClassicDataset.ofRows(session,
      org.apache.spark.sql.execution.LogicalRDD(
        qe.analyzed.output, qe.toRdd, isStreaming = false)(session))
  }

  /** A DataFrame over an explicit [[org.apache.spark.sql.execution
    * .datasources.FileIndex]] — the seam that lets a MANIFEST version
    * read plan with ZERO filesystem listing or stat calls on the
    * SCALA path too (the connector already plans over the index):
    * HadoopFsRelation + LogicalRelation is exactly what
    * `spark.read.parquet` builds, minus its InMemoryFileIndex listing
    * job. Partition columns (if any) are served from the index's
    * partition spec, not from file contents. */
  def ofFileIndex(spark: SparkSession,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      dataSchema: org.apache.spark.sql.types.StructType,
      partitionSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val s = spark.asInstanceOf[ClassicSparkSession]
    // asNullable, exactly as DataFrameReader.schema() relaxes its
    // user-specified schema: files are allowed to MISS a (widened)
    // column and null-fill it — a non-nullable field here would both
    // fail the vectorized reader on such files and let the optimizer
    // constant-fold `col IS NULL` to false (silently wrong results)
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, partitionSchema.asNullable, dataSchema.asNullable, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty[String, String])(s)
    ClassicDataset.ofRows(s,
      org.apache.spark.sql.execution.datasources.LogicalRelation(rel))
  }

  /** `df.write.partitionBy(partitionBy: _*).parquet(dir)` into a FRESH
    * `dir`, with the caller's `trackers` seeing every written file and
    * row — the seam Delta's transactional write uses, since
    * DataFrameWriter takes no stats trackers. `FileFormatWriter.write`
    * runs under one SQL execution, with Spark's
    * BasicWriteJobStatsTracker alongside so task output metrics stay
    * as a DataFrameWriter write reports them; the committer, part-file
    * names, `_SUCCESS`, and the Empty2Null + sort of partition columns
    * are the ones the write command uses. */
  def writeParquet(df: DataFrame, dir: String, partitionBy: Seq[String],
      trackers: Seq[org.apache.spark.sql.execution.datasources.WriteJobStatsTracker]): Unit = {
    import org.apache.spark.sql.execution.datasources._
    val ds = df.asInstanceOf[ClassicDataset[_]]
    val s = ds.sparkSession
    val qe = ds.queryExecution
    val conf = s.sessionState.conf
    PartitioningUtils.validatePartitionColumn(df.schema, partitionBy, conf.caseSensitiveAnalysis)
    val output = qe.executedPlan.output
    val partCols = partitionBy.map(p => output.find(a => conf.resolver(a.name, p)).get)
    val hadoopConf = s.sessionState.newHadoopConf()
    val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
      conf.fileCommitProtocolClass, java.util.UUID.randomUUID().toString, dir)
    val basic = new BasicWriteJobStatsTracker(
      new org.apache.spark.util.SerializableConfiguration(hadoopConf),
      BasicWriteJobStatsTracker.metrics)
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("save")) {
      FileFormatWriter.write(s, qe.executedPlan,
        new parquet.ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(dir, Map.empty, output), hadoopConf,
        partCols, None, basic +: trackers, Map.empty)
    }
  }

  /** The inverse seam, for V1 streaming SOURCES: `getBatch` must hand
    * the engine a plan marked `isStreaming = true` (MicroBatchExecution
    * asserts it), while the batch itself is an ordinary computed
    * DataFrame — plan it as a batch, rebind the planned RDD under a
    * streaming-flagged LogicalRDD (the FileStreamSource idiom, which
    * marks its LogicalRelation the same way). */
  def asStreamBatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    ClassicDataset.ofRows(session,
      org.apache.spark.sql.execution.LogicalRDD(
        qe.analyzed.output, qe.toRdd, isStreaming = true)(session))
  }
}
