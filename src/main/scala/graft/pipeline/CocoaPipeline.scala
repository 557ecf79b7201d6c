package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Batch composition of the whole reference DAG (entry point 1,
  * SURVEY.md §3): discover → validate → scan → enrich → stage →
  * merge → commit → archive. One Spark job graph replaces the
  * scheduler/manifest/XCom machinery (O1-O4): file parallelism is
  * task scheduling, batching is input-split planning, and the
  * empty-landing branch (O2) is a plain early return.
  */
object CocoaPipeline {

  final case class BatchResult(
      version: Option[Long],
      filesProcessed: Seq[String],
      filesQuarantined: Seq[String],
      rowsMerged: Long,
      warehouseRows: Long)

  final case class Dirs(landing: String, staging: String, warehouse: String, archive: String)

  /** Run one processing batch. `processedAt` defaults to now; tests
    * pass a fixed instant for determinism (the reference stamps one
    * utcnow() per chunk, O8). The audit counts (`rowsMerged`,
    * `warehouseRows` — the reference's per-batch logging) ride the
    * two write jobs as `observe` metrics instead of re-scanning:
    * reporting costs zero extra jobs at any scale. */
  def runBatch(spark: SparkSession, dirs: Dirs,
      processedAt: Timestamp = new Timestamp(System.currentTimeMillis())): BatchResult = {

    val (maybeDf, disc) = Ingest.ingest(spark, dirs.landing)
    if (maybeDf.isEmpty)
      return BatchResult(Warehouse.currentVersion(spark, dirs.warehouse),
        Seq.empty, disc.quarantined, 0L, -1L)

    val stagedObs = new Observation()
    val mergedObs = new Observation()
    // The staged-rows metric observes `enriched` as it is WRITTEN to
    // staging (the merge then reads those same rows back, O10/O11 —
    // one count, two interpretations). It must not sit inside the
    // merge plan itself: the update subtree appears twice there
    // (dedup branch + union branch) and would double-count.
    val enriched = Enrich.enrich(maybeDf.get, processedAt)
      .observe(stagedObs, count(lit(1)).as("rows"))

    // Stage as parquet and re-read: the staged artifact is the load
    // source of truth, exactly as the reference re-reads its staging
    // parquet before the DB load (O10/O11,
    // cocoa_processing_dag.py:201-211).
    enriched.write.mode("overwrite").parquet(dirs.staging)
    // Re-read with the writer's schema: the staged artifact is still
    // the load source of truth (every byte read comes from staging),
    // but the schema is already known — no footer-inference job.
    val staged = spark.read.schema(enriched.schema).parquet(dirs.staging)

    val target = Warehouse.read(spark, dirs.warehouse)
    // The merged frame is consumed exactly once (the snapshot write),
    // so its observe node fires once and counts the committed rows.
    val merged = Merge.upsertShipments(target, staged)
      .observe(mergedObs, count(lit(1)).as("rows"))
    val version = Warehouse.commit(spark, dirs.warehouse, merged)

    Archive.archiveFiles(spark, disc.valid, dirs.archive)
    Archive.deleteDir(spark, dirs.staging)

    BatchResult(Some(version), disc.valid, disc.quarantined,
      rowsMerged = stagedObs.get("rows").asInstanceOf[Long],
      warehouseRows = mergedObs.get("rows").asInstanceOf[Long])
  }
}
