package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Training-shard writer: the last stage of a data pipeline — turn a
  * cleaned corpus into N on-disk shards a trainer streams, plus the
  * per-shard manifest the trainer's data loader reads first.
  *
  * The shard key is the portable content fingerprint mod N, so the
  * "global shuffle" is DETERMINISTIC: the same corpus always lands in
  * the same shards in the same within-shard order, independent of
  * ingest order, partition count, or engine — re-running the writer
  * after a re-ingest reproduces the training byte stream exactly
  * (the property that makes training runs reproducible). Content
  * keying also means the shuffle is a REAL shuffle statistically:
  * the fingerprint is uniform-ish, so shards are balanced and each
  * shard is an unbiased sample of the corpus — no source/time
  * clumping, which is what a trainer needs from "shuffled" data.
  *
  * Scale shape: ONE hash exchange on the shard key (explicit
  * partition count — each shard value lands wholly in one task, so
  * each shard is ONE file written sorted), per-row fingerprint/token
  * kernels, and a manifest aggregation over the READ-BACK files —
  * the manifest certifies what is on disk, not what was meant to be
  * written. No driver-side row handling anywhere.
  */
object Sharding {

  /** Write `docs` into `nShards` parquet shards under `outDir`
    * (directory layout `shard=K/`), deterministically keyed and
    * ordered by (portable fingerprint, id); returns the read-back
    * frame of what was persisted. Rows without tokenizable text are
    * excluded (they carry nothing to train on and no content to
    * fingerprint). The persisted schema carries the fingerprint so
    * downstream consumers (manifest, loaders, resume logic) never
    * recompute it. */
  /** Deterministic k-per-stratum SAMPLE ordered by the portable
    * content fingerprint — the engine-portable form of "random k per
    * group" (the fingerprint is uniform-ish and a pure function of
    * content, so the draw is reproducible across engines, ingest
    * orders, and partitionings; the DuckDB oracle re-derives it
    * exactly). Selection runs through the bounded-heap
    * [[graft.plans.TopK.bottomKPerKey]] node: one pass, no per-group
    * full sort, O(strata · k) held rows — the 100 TB shape. Output:
    * (idCol, stratumCol, sample_rank 1..k). Contentless rows (null /
    * token-free text) never sample. Generic twin of the d19 gate
    * (NorthStar.stratifiedSample pins the same logic on documents). */
  def stratifiedByFingerprint(df: DataFrame, idCol: String,
      stratumCol: String, textCol: String, k: Int): DataFrame = {
    val base = df
      .filter(col(textCol).isNotNull && TextFunctions.tokenCount(col(textCol)) > 0)
      .select(col(idCol), col(stratumCol),
        TextFunctions.fingerprintPortable64(col(textCol)).as("fp"))
    val pruned = graft.plans.TopK.bottomKPerKey(
      base, Seq(stratumCol), "fp", k, tieBreakers = Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(col("fp"), col(idCol))
    pruned
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .select(col(idCol), col(stratumCol), col("sample_rank"))
  }

  def writeShards(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int, outDir: String): DataFrame =
    writeInternal(docs, idCol, textCol, nShards, outDir, overwrite = true)

  /** INCREMENTAL maintenance: land a new batch into EXISTING shards —
    * the same content-keyed assignment, so each touched shard gains
    * exactly one new sorted file and untouched shards' bytes never
    * move. The daily-increment twin of [[writeShards]]: at 100 TB,
    * re-sharding the corpus for a 0.1% batch is the non-starter the
    * append path exists to avoid. Appending preserves the manifest
    * contract exactly — `manifest(append(corpus, Δ))` equals
    * `manifest(writeShards(corpus ∪ Δ))` because assignment and the
    * aggregated cells depend on content alone, not on which write
    * landed a row (d34 hash-certifies this equivalence). */
  def appendShards(newDocs: DataFrame, idCol: String, textCol: String,
      nShards: Int, outDir: String): DataFrame =
    writeInternal(newDocs, idCol, textCol, nShards, outDir, overwrite = false)

  /** Underscore-prefixed (invisible to parquet readers) sidecar
    * pinning the layout's shard count: `shard == pmod(fp, N)` is the
    * invariant every loader keys on, and an append with a different N
    * would corrupt it SILENTLY — rows landing in dirs that satisfy
    * neither modulus. Written on build, demanded + matched on append. */
  private val layoutFile = "_graft_shard_layout"

  private def writeInternal(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int, outDir: String, overwrite: Boolean): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(docs.sparkSession.sessionState.newHadoopConf())
    val layout = new org.apache.hadoop.fs.Path(outDir, layoutFile)
    if (!overwrite) {
      require(fs.exists(layout),
        s"append into $outDir refused: no $layoutFile — not a shard " +
          "layout built by writeShards (or a pre-layout legacy dir; rebuild)")
      val persisted = graft.pipeline.Ingest.readText(fs, layout).trim.toInt
      require(persisted == nShards,
        s"append into $outDir refused: layout was built with " +
          s"nShards=$persisted, caller passed $nShards — appending would " +
          "corrupt the shard == pmod(fingerprint, N) invariant")
    }
    docs
      .filter(col(textCol).isNotNull && TextFunctions.tokenCount(col(textCol)) > 0)
      .withColumn("fp", TextFunctions.fingerprintPortable64(col(textCol)))
      .withColumn("shard", pmod(col("fp"), lit(nShards.toLong)))
      // Explicit count: opts out of AQE coalescing, and hash
      // partitioning on the shard value itself sends ALL rows of one
      // shard to one task — partitionBy below then emits exactly one
      // sorted file per shard per write.
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("fp"), col(idCol))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("shard").parquet(outDir)
    if (overwrite) {
      val out = fs.create(layout, true)
      try out.write(nShards.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    docs.sparkSession.read.parquet(outDir)
  }

  /** Per-shard manifest over the persisted shards: document count,
    * token count, id range, and an order-independent content
    * checksum (sum of fingerprint mod 10^12 — integer-exact, so any
    * engine reading the same shards derives the same checksum; 10^12
    * keeps a per-shard sum of ~10^6 docs inside a signed 64-bit
    * value, and a grown corpus widens to decimal, not to floats). */
  def manifest(shards: DataFrame, idCol: String): DataFrame =
    shards
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text"))).as("n_tokens"),
        min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"),
        sum(pmod(col("fp"), lit(1000000000000L))).as("checksum"))
}
