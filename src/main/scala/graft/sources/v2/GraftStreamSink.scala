package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.{broadcast, col, count, count_distinct, lit}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.OutputMode

import graft.pipeline.Warehouse

/** `writeStream.format("graft")`: every micro-batch lands as ONE
  * fenced warehouse commit, EXACTLY-ONCE.
  *
  * The reference's pipeline is a batch DAG whose output table is
  * consumed live (`README.md:41-54`); this sink is the streaming twin
  * of the connector's batch write — the same keyed-upsert semantics
  * (`ON CONFLICT` parity, [[GraftSnapshotTable]]), the same versioned
  * history (every batch time-travelable, CDC-readable), driven by
  * Structured Streaming.
  *
  * Exactly-once, concretely: the engine re-runs a micro-batch after a
  * crash between sink-commit and checkpoint-commit, so the sink must
  * make replays no-ops. Each batch's snapshot is staged with an
  * `_SINK_EPOCH_<appId>` marker file INSIDE the staged dir and
  * published through [[Warehouse.publishStaged]] — the batch's rows
  * and its epoch become durable in one atomic rename, no
  * marker-vs-data crash window. `addBatch` first recovers the newest
  * committed epoch for this `appId` (scanning retained versions
  * newest-first — a metadata listing, no data read) and skips batches
  * at or below it. Interleaved non-stream writers are safe twice over:
  * the epoch scan looks past their versions, and the publish is fenced
  * on the version the batch was derived from (`expectedCurrent`), so a
  * lost-update can only abort loudly, never drop rows.
  *
  * Output modes: `Complete` replaces the snapshot with the batch
  * (recomputed aggregations); `Append`/`Update` upsert on the merge
  * key when one is configured (`mergeKey` option, table `_PROPS`, or
  * the cocoa PK) and plain-append otherwise.
  *
  * Scale shape: the data plane is one distributed parquet write of the
  * (anti-joined) next snapshot per batch — the batch side of the
  * upsert is broadcast, the publish moves metadata only. This is the
  * copy-on-write trade: bounded snapshot history per batch, zero read
  * amplification. High-frequency small batches on a huge table belong
  * in MANIFEST MODE (`TBLPROPERTIES('commitMode'='manifest')`): each
  * batch then costs O(touched files) — [[Warehouse.mergeFiles]] /
  * [[Warehouse.appendFiles]] with the epoch marker riding the same
  * atomic publish — with compaction as the periodic fold-back valve.
  */
class GraftStreamSink(spark: SparkSession, root: String,
    mergeKeyOpt: Option[String], appId: String, outputMode: OutputMode)
    extends Sink {

  require(appId.matches("[A-Za-z0-9_-]+"),
    s"graft: streamAppId must be filename-safe ([A-Za-z0-9_-]+), got '$appId'")

  private def markerName = s"_SINK_EPOCH_$appId"

  /** Newest committed epoch for this appId across retained versions —
    * newest-first so one marker read suffices on the steady path. */
  private def lastCommittedEpoch(): Option[Long] = {
    val fs = GraftTables.fs(spark, root)
    Warehouse.versions(spark, root).sorted.reverseIterator
      .map(v => new Path(Warehouse.versionPath(root, v), markerName))
      .find(fs.exists)
      .map(p => graft.pipeline.Ingest.readText(fs, p).trim.toLong)
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = synchronized {
    if (lastCommittedEpoch().exists(_ >= batchId)) return // replay: already durable
    val batch = Bridge.unstream(data)
    val base = Warehouse.currentVersion(spark, root)
    val schema = batch.schema
    // Shared loud resolution: a DECLARED key absent from the batch
    // schema throws instead of silently degrading to plain append.
    val mergeKey = GraftTables.resolveMergeKey(spark, root, mergeKeyOpt,
      schema.fieldNames)
    // MANIFEST MODE — O(Δ) per micro-batch: a high-frequency stream
    // upserting into a huge table must not re-copy the table every
    // trigger. Once the table is in manifest mode (or
    // commitMode=manifest opts in), keyed batches route to the
    // file-granular upsert and keyless ones to the reference append;
    // the exactly-once epoch marker rides the SAME staged dir and
    // publishes in the same atomic rename (no marker-vs-data crash
    // window, exactly like the copy-on-write path below). Complete
    // mode keeps the replace semantics (the batch IS the table).
    val manifestMode =
      base.exists(Warehouse.snapshot(spark, root, _).isManifest) ||
        GraftCatalog.readProps(spark, root).get("commitMode").contains("manifest")
    if (manifestMode && base.isDefined && outputMode != OutputMode.Complete()) {
      val marker = Some(markerName -> batchId.toString)
      val v = mergeKey match {
        case Some(key) =>
          Warehouse.mergeFiles(spark, root, batch, key, stageMarker = marker)
        case None =>
          Warehouse.appendFiles(spark, root, batch, stageMarker = marker)
      }
      GraftTables.maybePublishFeed(spark, root, v, schema, mergeKey)
      return
    }
    val next = (base, mergeKey) match {
      case _ if outputMode == OutputMode.Complete() => batch
      case (None, _) => batch
      case (Some(_), None) =>
        GraftTables.liveRead(spark, root, schema).unionByName(batch)
      case (Some(_), Some(key)) =>
        // one batch may not touch a key twice — loud, like the batch
        // INSERT path (update-mode aggregations satisfy this for free)
        val Array(n, d) = batch.agg(count(lit(1)), count_distinct(col(key)))
          .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
        require(n == d, s"graft: micro-batch $batchId carries duplicate" +
          s" '$key' values ($n rows, $d distinct); deduplicate in the query" +
          " (e.g. update-mode aggregation or dropDuplicates) first")
        GraftTables.liveRead(spark, root, schema)
          .join(broadcast(batch.select(col(key))), Seq(key), "left_anti")
          .unionByName(batch)
    }
    val fs = GraftTables.fs(spark, root)
    fs.mkdirs(new Path(root))
    val stage = new Path(root, s".sink_${java.util.UUID.randomUUID()}")
    try {
      next.write.parquet(stage.toString)
      val out = fs.create(new Path(stage, markerName), true)
      try out.write(batchId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val v = Warehouse.publishStaged(spark, root, stage.toString,
        expectedCurrent = Some(base))
      GraftTables.maybePublishFeed(spark, root, v, schema, mergeKey)
    } catch {
      case t: Throwable =>
        try fs.delete(stage, true) catch { case _: java.io.IOException => () }
        throw t
    }
  }

  override def name(): String = s"graft-sink:$root"
  override def toString: String = name()
}
