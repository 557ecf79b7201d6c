package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.{CocoaSchema, Enrich, Merge, Warehouse}

/** Structured Streaming variant of the cocoa pipeline (SURVEY.md §2.1
  * streaming, §3): the checkpointed file-source log replaces the
  * reference's manifest + archive "seen" bookkeeping (O1/O3/O16) with
  * exactly-once file processing, and `foreachBatch` gives the same
  * atomic-per-batch merge the reference gets from a Postgres
  * transaction — idempotent on retry because the warehouse commit is
  * a whole-snapshot swap.
  *
  * `Trigger.AvailableNow` drains everything currently in the landing
  * zone then stops — the scheduled-daily semantics of the reference
  * DAG (`@daily`, `cocoa_processing_dag.py:47`) without a scheduler;
  * swap in a processing-time trigger for continuous ingest.
  */
object CocoaStream {

  /** Thrown by the spec/gate crash knob — a stand-in for the executor
    * or driver dying BETWEEN the warehouse commit and the checkpoint
    * commit, the worst-ordered crash window: the restarted query
    * replays that micro-batch, and the LWW upsert's idempotence (same
    * keys, same stamps) makes the replay a content-identical commit —
    * exactly-once EFFECT from at-least-once delivery. */
  final class SimulatedCrash extends RuntimeException(
    "simulated crash after warehouse commit, before checkpoint commit")

  /** The landing-CSV file stream every drain reads.
    *
    * enforceSchema=false: the streaming file source has no per-file
    * quarantine hook (unlike batch Ingest.validateHeaders), so a file
    * whose header doesn't match the declared schema must fail LOUDLY
    * rather than bind positionally and merge shifted garbage that the
    * checkpoint log then marks as processed forever. Landing zones
    * feeding this variant are expected well-formed; mixed-quality
    * zones should run the batch pipeline. */
  private def landingStream(spark: SparkSession, landingDir: String,
      maxFilesPerTrigger: Option[Int]): org.apache.spark.sql.DataFrame = {
    val reader = spark.readStream
      .schema(CocoaSchema.input)
      .option("header", "true")
      .option("enforceSchema", "false")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.csv(landingDir)
  }

  /** Run one drain of the landing zone into the warehouse. Returns the
    * number of micro-batches processed. `processedAt` pins the audit
    * stamp for every micro-batch of this drain (tests / oracle-checked
    * runs); `None` stamps wall-clock per batch like the reference's
    * per-chunk utcnow(). */
  def runAvailableNow(spark: SparkSession, landingDir: String,
      warehouseDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      processedAt: Option[Timestamp] = None,
      crashAfterBatches: Option[Long] = None): Long = {

    var batches = 0L
    val query = landingStream(spark, landingDir, maxFilesPerTrigger).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // One processed_at per micro-batch, mirroring the reference's
        // per-chunk utcnow() (O8).
        val enriched = Enrich.enrich(batch,
          processedAt.getOrElse(new Timestamp(System.currentTimeMillis())))
        val target = Warehouse.read(spark, warehouseDir)
        val merged = Merge.upsertShipments(target, enriched)
        Warehouse.commit(spark, warehouseDir, merged)
        batches += 1
        // crash knob: die AFTER the commit, BEFORE the checkpoint
        // marks this batch done — the replay-on-restart window
        if (crashAfterBatches.contains(batches)) throw new SimulatedCrash
        ()
      }
      .start()
    query.awaitTermination()
    batches
  }

  /** Streaming drain through the CONNECTOR SINK
    * (`writeStream.format("graft")`, [[graft.sources.v2.GraftStreamSink]])
    * instead of foreachBatch: the enrichment runs as a streaming
    * transform, the sink owns the keyed upsert AND exactly-once (its
    * in-snapshot epoch marker makes micro-batch replays durable
    * no-ops — a strictly stronger contract than the foreachBatch
    * variant's idempotence-by-LWW, which relies on replays carrying
    * identical stamps). Same declarative pipeline a user would write;
    * no sink code in the query. */
  def runAvailableNowSink(spark: SparkSession, landingDir: String,
      warehouseDir: String, checkpointDir: String,
      processedAt: Option[Timestamp] = None): Unit = {
    val enriched = Enrich.enrich(landingStream(spark, landingDir, None),
      processedAt.getOrElse(new Timestamp(System.currentTimeMillis())))
    val query = enriched.writeStream
      .format("graft")
      .option("mergeKey", CocoaSchema.mergeKey)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start(warehouseDir)
    query.awaitTermination()
  }

  /** Streaming drain straight into an EXTERNAL RDBMS — the reference's
    * production shape (stream of landing files → Postgres table) run
    * through [[graft.pipeline.JdbcWarehouse]]'s distributed upsert in
    * `foreachBatch`. Exactly-once effect WITHOUT a transactional sink
    * coordinator: the checkpointed file-source log guarantees each file
    * feeds exactly one committed micro-batch, and a replayed
    * micro-batch (crash between the JDBC write and the checkpoint
    * commit) re-upserts the SAME key-deduped rows — idempotent by the
    * upsert's `ON CONFLICT DO UPDATE` semantics, the same
    * at-least-once-plus-idempotence contract the reference relies on
    * (`README.md:31`). Returns micro-batches processed. */
  def runAvailableNowJdbc(spark: SparkSession, landingDir: String,
      url: String, table: String, checkpointDir: String,
      dialect: graft.pipeline.JdbcWarehouse.Dialect = graft.pipeline.JdbcWarehouse.derby,
      maxFilesPerTrigger: Option[Int] = None,
      processedAt: Option[Timestamp] = None): Long = {
    graft.pipeline.JdbcWarehouse.ensureTable(
      url, table, CocoaSchema.warehouse, CocoaSchema.mergeKey, dialect)
    var batches = 0L
    val query = landingStream(spark, landingDir, maxFilesPerTrigger).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val enriched = Enrich.enrich(batch,
          processedAt.getOrElse(new Timestamp(System.currentTimeMillis())))
        // within-batch LWW first: key-unique rows make the upsert
        // idempotent under micro-batch replay AND conflict-free
        // across its writer partitions
        val deduped = Merge.lastWriterWins(enriched, CocoaSchema.mergeKey,
          org.apache.spark.sql.functions.col("processed_at"),
          Seq(org.apache.spark.sql.functions.col("timestamp")))
        graft.pipeline.JdbcWarehouse.upsert(
          deduped, url, table, CocoaSchema.mergeKey, dialect)
        batches += 1
        ()
      }
      .start()
    query.awaitTermination()
    batches
  }
}
