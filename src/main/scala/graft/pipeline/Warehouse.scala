package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet warehouse with a versioned-directory commit protocol.
  *
  * The reference's warehouse is a Postgres table whose UPSERT rides a
  * transaction (`conn.commit()`, `cocoa_processing_dag.py:221,237`).
  * Offline we have no Delta/transaction log, so atomicity comes from
  * a write-then-swap pointer:
  *
  * {{{
  * warehouse/
  *   _VERSION        # tiny file holding the committed version number
  *   v0/ v1/ ...     # immutable parquet snapshots
  * }}}
  *
  * A new snapshot is fully written to `v{n+1}/` first; only then is
  * `_VERSION` replaced via create-temp + atomic rename. Readers that
  * resolve `_VERSION` before the swap keep reading the old snapshot —
  * crash-consistent per batch, same guarantee the reference gets from
  * Postgres. Old versions remain for time-travel/debug;
  * [[vacuum]] prunes them.
  */
object Warehouse {
  import Ingest.{readText, writeText}

  private val versionFile = "_VERSION"
  private val lockFile = "_COMMIT_LOCK"

  /** Default commit-lease TTL: far beyond any healthy commit's
    * duration (snapshot write + pointer swap), so a lease is only ever
    * broken when its holder is genuinely dead. The lease assumption —
    * standard for TTL-based locks without a coordination service — is
    * that no LIVE commit ever stalls longer than the TTL; the fencing
    * check below bounds the damage if it does (the stalled holder
    * aborts instead of publishing). */
  val DefaultLockTtlMs: Long = 10 * 60 * 1000L

  private final case class Lease(holderId: String, acquiredAtMs: Long)

  /** Parse `holderId acquiredAtMs` from the lock; a torn/empty lock
    * (crash between create and write) falls back to the file's
    * modification time so its age is still measurable. */
  private def readLease(fs: FileSystem, lock: Path): Option[Lease] = {
    if (!fs.exists(lock)) return None
    try {
      readText(fs, lock).trim.split("\\s+") match {
        case Array(id, ts) if ts.matches("\\d+") => Some(Lease(id, ts.toLong))
        case _ => Some(Lease("<torn>", fs.getFileStatus(lock).getModificationTime))
      }
    } catch { case _: java.io.IOException => None } // vanished mid-read
  }

  /** Create-then-VALIDATE: `create(overwrite=false)` is atomic on
    * HDFS but check-then-act on RawLocalFileSystem, so two racers can
    * both believe they created the lock. The read-back after the
    * write demotes all but the last writer (whose content is what the
    * file holds) to a contention failure; the pre-publish fencing
    * re-read in [[commit]] is the second, closing line of defense. */
  private def tryCreateLease(fs: FileSystem, lock: Path, holderId: String): Boolean =
    try {
      val out = fs.create(lock, false)
      try out.write(s"$holderId ${System.currentTimeMillis()}"
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      readLease(fs, lock).exists(_.holderId == holderId)
    } catch { case _: java.io.IOException => false }

  /** Acquire the commit lease: create-exclusive wins outright; on
    * contention, a lease OLDER than `ttlMs` is presumed crashed and
    * broken; a younger lease fails the caller loudly. No manual
    * `_COMMIT_LOCK` removal is ever needed for a crashed holder — the
    * next committer past the TTL reclaims it.
    *
    * Breaking is a RENAME of the stale lock to a breaker-unique
    * tombstone, not delete-then-create: rename succeeds for exactly
    * one of any number of concurrent breakers (the others' source
    * path is gone), so a loser can never delete the winner's freshly
    * written lease the way a bare delete could. The winner then
    * create-exclusives its own lease; the read-back in
    * [[tryCreateLease]] demotes ties with fresh (non-breaking)
    * committers on filesystems whose create is check-then-act. */
  private def acquireLease(fs: FileSystem, lock: Path, holderId: String,
      ttlMs: Long): Unit = {
    if (tryCreateLease(fs, lock, holderId)) return
    readLease(fs, lock) match {
      case Some(l) =>
        val age = System.currentTimeMillis() - l.acquiredAtMs
        if (age <= ttlMs)
          throw new IllegalStateException(
            s"another commit holds $lock (holder ${l.holderId}, age ${age}ms" +
              s" <= ttl ${ttlMs}ms); it will be reclaimable after the TTL")
        val tombstone = new Path(lock.getParent, s".$lockFile.broken.$holderId")
        val won =
          try fs.rename(lock, tombstone)
          catch { case _: java.io.IOException => false }
        if (!won)
          throw new IllegalStateException(
            s"another commit holds $lock (a concurrent breaker reclaimed the" +
              " stale lease first)")
        fs.delete(tombstone, false)
        if (!tryCreateLease(fs, lock, holderId))
          throw new IllegalStateException(
            s"another commit holds $lock (lost the re-acquire race after" +
              " breaking a stale lease)")
      case None => // holder released between our create failure and read
        if (!tryCreateLease(fs, lock, holderId))
          throw new IllegalStateException(
            s"another commit holds $lock (re-acquired immediately after release)")
    }
  }

  /** The committed version: the `_VERSION` pointer when present, else
    * recovered as the greatest fully-written snapshot (one whose
    * `_SUCCESS` marker exists) — a crash between writing a snapshot
    * and publishing the pointer must not make the warehouse read as
    * empty or let the next commit reuse a version number. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val fs = Ingest.fs(spark, root)
    pointerVersion(fs, root).orElse(completeSnapshots(spark, root).maxOption)
  }

  /** The raw `_VERSION` pointer alone — no snapshot-dir recovery. */
  private def pointerVersion(fs: FileSystem, root: String): Option[Long] = {
    val vf = new Path(root, versionFile)
    if (!fs.exists(vf)) None
    else Some(readText(fs, vf).trim.toLong)
  }

  private def completeSnapshots(spark: SparkSession, root: String): Seq[Long] = {
    val fs = Ingest.fs(spark, root)
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+") &&
        fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.drop(1).toLong)
  }

  def versionPath(root: String, v: Long): String = s"$root/v$v"

  /** Every COMPLETE committed version, ascending — the DESCRIBE
    * HISTORY surface (one driver metadata listing, no data I/O).
    * Includes shallow-clone and rename (mapping) versions; excludes
    * in-flight staging dirs and anything without `_SUCCESS`. */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    completeSnapshots(spark, root).sorted

  /** Marker file a shallow-cloned version dir carries instead of
    * parquet parts: its content is the absolute DATA directory of the
    * cloned source snapshot. */
  private val clonePointer = "_CLONE"

  /** The DATA directory for version `v` ([[Snapshot.dataDir]]):
    * normally the version dir itself; for a shallow-cloned version,
    * the source snapshot directory its `_CLONE` pointer names — loud
    * when that source was vacuumed. */
  def dataPath(spark: SparkSession, root: String, v: Long): String =
    snapshot(spark, root, v).dataDir

  /** ZERO-COPY SHALLOW CLONE (the Delta `CLONE` / Iceberg snapshot-ref
    * pattern): publish the source warehouse's CURRENT snapshot as the
    * next version of `dstRoot` without copying a byte of data — the
    * new version dir holds only a `_CLONE` pointer to the source data
    * directory. At 100 TB this is the only sane way to fork a table
    * for experiments/backfills: O(1) metadata instead of a full
    * rewrite, and every subsequent commit/compact on the clone writes
    * its own data dirs, never touching the source (copy-on-write).
    *
    * Contract limits, enforced loudly:
    *  - a source version carrying deletion vectors cannot be cloned
    *    (the DVs live in the SOURCE root and the clone would
    *    resurrect deleted rows) — `applyDv` on the source first;
    *  - clones pin NOTHING: vacuuming the source past the cloned
    *    snapshot breaks the clone, which then fails loudly on read
    *    ([[dataPath]]) — source retention must cover live clones,
    *    the same operational rule Delta documents for shallow clones;
    *  - clone-of-clone flattens: the pointer always names the
    *    ORIGINAL data directory, so chains never deepen.
    *
    * Publication is [[publishVersion]] on `dstRoot`, so clones
    * serialize with concurrent commits on the destination. */
  def cloneShallow(spark: SparkSession, srcRoot: String, dstRoot: String,
      lockTtlMs: Long = DefaultLockTtlMs): Long = {
    val srcV = currentVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(
        s"cloneShallow: no committed snapshot under $srcRoot"))
    val srcFs = Ingest.fs(spark, srcRoot)
    val src = snapshot(spark, srcRoot, srcV) // flattens chains + validates
    if (src.dvParts.nonEmpty)
      throw new IllegalStateException(
        s"cloneShallow: $srcRoot v$srcV carries deletion vectors; a shallow" +
          " clone would resurrect deleted rows — applyDv on the source first")
    require(!src.isManifest,
      s"cloneShallow: $srcRoot v$srcV is a manifest version (files spread" +
        " across version dirs — a single clone pointer cannot reference" +
        " them); compact the source first")
    val target = src.dataDir
    val fs = Ingest.fs(spark, dstRoot)
    publishVersion(spark, dstRoot, lockTtlMs, expectedCurrent = None,
        op = "cloneShallow") { (stage, _) =>
      writeText(fs, new Path(stage, clonePointer), target)
      // a RENAMED source version carries its names in `_MAPPING`, not
      // in the data bytes the pointer references — the clone must
      // carry the map too, or it would silently serve the PHYSICAL
      // (pre-rename) names
      val srcMap = new Path(versionPath(srcRoot, srcV), mappingFile)
      if (srcFs.exists(srcMap))
        writeText(fs, new Path(stage, mappingFile), readText(srcFs, srcMap))
      fs.create(new Path(stage, "_SUCCESS"), true).close()
    }
  }

  /** Marker file a column-mapped version dir carries alongside its
    * `_CLONE` pointer: tab-separated `physical<TAB>logical` lines,
    * one per renamed column. */
  private val mappingFile = "_MAPPING"

  /** RENAME COLUMNS as a METADATA-ONLY commit — Delta's column-mapping
    * rename without rewriting a byte: the new version is a shallow
    * pointer to the current snapshot's data directory plus a
    * physical→logical name map applied at read time ([[readMapped]]).
    * At 100 TB a rename that rewrites is an outage; this is O(1).
    *
    * Era semantics match the additive-evolution contract: the map
    * belongs to the VERSION. Time travel to a pre-rename version
    * shows the old names; the mapped version shows new names over the
    * same bytes; a LATER commit writes its (logical) names as
    * physical ones and carries no map — so maps never chain past one
    * hop ([[renameColumns]] composes an existing map instead of
    * stacking a second, exactly like clone-of-clone flattening).
    *
    * Refused loudly when the current version carries deletion vectors
    * (the DV set is keyed by version; the mapped version would
    * resurrect deleted rows — applyDv first; same rule as
    * [[cloneShallow]]). `renames` keys are CURRENT LOGICAL names;
    * unknown keys and target collisions fail before anything
    * publishes. Publication is [[publishVersion]], fenced on the
    * version the map was derived from. */
  def renameColumns(spark: SparkSession, root: String,
      renames: Map[String, String],
      schema: org.apache.spark.sql.types.StructType = CocoaSchema.warehouse,
      lockTtlMs: Long = DefaultLockTtlMs): Long = {
    require(renames.nonEmpty, "renameColumns: empty rename set")
    val fs = Ingest.fs(spark, root)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"renameColumns: no committed snapshot under $root"))
    val s = snapshot(spark, root, cur) // flattens clone chains + validates
    if (s.dvParts.nonEmpty)
      throw new IllegalStateException(
        s"renameColumns: $root v$cur carries deletion vectors; the mapped" +
          " version would resurrect deleted rows — applyDv first")
    // MANIFEST chains compose (round 13): the rename commits a
    // metadata-only version carrying cur's file list VERBATIM plus the
    // composed map — zero data written, the Delta column-mapping
    // shape. Physical names stay on disk forever; every later manifest
    // commit carries the map forward and translates at its boundaries.
    val existing = s.p2l // physical → logical
    val physicalNames =
      if (s.isManifest) s.schema.fieldNames.toSeq
      else schema.fieldNames.toSeq
    val logicalOf: Map[String, String] =
      physicalNames.map(p => p -> existing.getOrElse(p, p)).toMap
    val logicalNames = physicalNames.map(logicalOf)
    renames.keys.foreach(k => require(logicalNames.contains(k),
      s"renameColumns: no column named '$k' (logical columns:" +
        s" ${logicalNames.mkString(", ")})"))
    val composed: Map[String, String] = physicalNames.map { p =>
      val l = logicalOf(p)
      p -> renames.getOrElse(l, l)
    }.toMap
    val finalNames = physicalNames.map(composed)
    require(finalNames.distinct.size == finalNames.size,
      s"renameColumns: rename set collides — resulting columns" +
        s" ${finalNames.mkString(", ")} are not distinct")
    publishVersion(spark, root, lockTtlMs, expectedCurrent = Some(Some(cur)),
        op = "renameColumns") { (stage, _) =>
      s.manifest match {
        case Some(lines) =>
          // carry the file list, schema and partitioning VERBATIM —
          // the rename is a map on top of unchanged physical bytes
          writeText(fs, new Path(stage, manifestFile), lines.mkString("\n"))
          writeText(fs, new Path(stage, manifestSchemaFile), s.schema.json)
          if (s.parts.nonEmpty)
            writeText(fs, new Path(stage, manifestPartsFile), s.parts.mkString("\n"))
        case None =>
          writeText(fs, new Path(stage, clonePointer), s.dataDir)
      }
      writeText(fs, new Path(stage, mappingFile), composed
        .filter { case (p, l) => p != l }.toSeq.sorted
        .map { case (p, l) => s"$p\t$l" }.mkString("\n"))
      fs.create(new Path(stage, "_SUCCESS"), true).close()
    }
  }

  /** Read version `v` (default: current) under its LOGICAL column
    * names — the data files' physical schema plus the version's
    * rename map. Reading a version with no map is exactly [[read]]. */
  def readMapped(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType = CocoaSchema.warehouse,
      version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = version.orElse(currentVersion(spark, root)).getOrElse(
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    val s = snapshot(spark, root, v)
    // manifest versions read their FILE LIST (a raw dir read would
    // silently drop carried rows); a manifest-carried map (round 13)
    // renames below exactly like a plain version's
    val raw = s.frame(schema)
    if (s.p2l.isEmpty) raw
    else raw.select(schema.fieldNames.toSeq
      .map(p => col(s"`$p`").as(s.p2l.getOrElse(p, p))): _*)
  }

  /** Read the committed snapshot; empty (schema'd) DataFrame if the
    * warehouse has never been committed. The expected schema is passed
    * explicitly — skipping parquet schema inference (a one-task
    * footer-read job per read) — and doubles as the SCHEMA-EVOLUTION
    * contract: evolution is ADDITIVE-ONLY (new nullable columns).
    * Reading an old snapshot under a widened schema yields nulls for
    * the not-yet-existing columns (parquet missing-column semantics);
    * reading any snapshot under the schema of its own era returns
    * exactly that era's columns — so time travel across an evolution
    * boundary is well-defined in both directions. Renames/drops/type
    * changes are out of contract (they'd need a rewrite, not a read
    * mapping). */
  def read(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType = CocoaSchema.warehouse): DataFrame =
    currentVersion(spark, root) match {
      case Some(v) => snapshot(spark, root, v).frame(schema)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Index-backed frame over a SUBSET of `h`'s files — the building
    * block behind [[Snapshot.frame]] and the file-granular DML
    * planning/rewrite reads: partition columns served from the path
    * fragments, zero listing, and with `withStats` the persisted stats
    * prune files at planning. `withFilePath = true` additionally
    * surfaces `_metadata.file_path` as `__file` (projected directly
    * above the relation, where metadata columns are guaranteed
    * resolvable). */
  private def entriesFrame(spark: SparkSession, h: Snapshot, files: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType,
      withStats: Boolean = false,
      withFilePath: Boolean = false,
      withPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (files.isEmpty) {
      var empty = org.apache.spark.sql.types.StructType(schema.fields)
      if (withFilePath) empty = empty.add("__file",
        org.apache.spark.sql.types.StringType)
      if (withPos) empty = empty.add("__pos",
        org.apache.spark.sql.types.LongType)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    }
    val parts = h.parts.filter(schema.fieldNames.contains)
    val partSchema = org.apache.spark.sql.types.StructType(
      parts.map(p => schema.fields(schema.fieldIndex(p))))
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(f => parts.contains(f.name)))
    val idx = new graft.sources.v2.ManifestFileIndex(spark, h.root,
      files.map(e => (e.path, e.size, e.mtime)),
      if (withStats) h.stats else Map.empty,
      partSchema)
    val base = org.apache.spark.sql.graftbridge.Bridge
      .ofFileIndex(spark, idx, dataSchema, partSchema)
    val cols = schema.fieldNames.toSeq.map(n => col(s"`$n`")) ++
      (if (withFilePath) Seq(col("_metadata.file_path").as("__file")) else Nil) ++
      (if (withPos) Seq(col("_metadata.row_index").as("__pos")) else Nil)
    base.select(cols: _*)
  }

  /** TIME-TRAVEL read of one committed version through the
    * correct-or-loud path (clone indirection resolved, listing-race
    * validated). Prefer this over raw `spark.read.parquet
    * (versionPath(...))` for any reader that can race a vacuum — the
    * raw read is subject to Spark's silent-empty listing window (see
    * [[readData]]). */
  def readVersion(spark: SparkSession, root: String, v: Long,
      schema: org.apache.spark.sql.types.StructType = CocoaSchema.warehouse): DataFrame = {
    val s = snapshot(spark, root, v)
    s.requireComplete("readVersion")
    s.frame(schema)
  }

  /** TIME-TRAVEL read of one committed version as a SQL consumer must
    * see it — the LIVE row set: merge-on-read deletion vectors applied
    * (a raw scan of a DV-bearing version resurrects deleted rows) and
    * the version's column rename map applied (a raw scan surfaces
    * physical pre-rename names). Schema is inferred from the
    * snapshot's own files, so this serves arbitrary tables, not just
    * the cocoa warehouse schema. Backs the `graft_time_travel` TVF;
    * mirrors [[readWithDv]]'s broadcast bound (small DV sets join
    * broadcast, overgrown ones shuffle — [[applyDv]] is the
    * maintenance valve either way). */
  def readVersionLive(spark: SparkSession, root: String, v: Long): DataFrame = {
    val s = snapshot(spark, root, v)
    s.requireComplete("readVersionLive")
    liveOf(s)
  }

  /** `s`'s live rows under its own LOGICAL schema: the physical schema
    * (persisted, or inferred once from the files) lifted through the
    * rename map, DV anti-join and translation by [[liveEraSnap]]. */
  private def liveOf(s: Snapshot): DataFrame =
    liveEraSnap(s, s.logical(s.schema), eraOf = Some(s.version))

  /** Explicit-schema parquet read of one snapshot data dir, loud when
    * the dir vanished mid-resolution.
    *
    * Spark's parallel listing TOLERATES a directory deleted between
    * the glob existence check and the leaf listing: `HadoopFSUtils`
    * logs a WARN and returns an EMPTY file set, and with an explicit
    * schema nothing else fails — a reader racing a vacuum would get
    * zero rows SILENTLY, the one failure mode a lakehouse read must
    * never have. The listing happens eagerly at `spark.read.parquet`,
    * so checking it here closes the window completely: empty listing +
    * dir gone ⇒ loud; non-empty listing ⇒ concrete files are pinned
    * and a later prune fails the scan loudly (`ignoreMissingFiles`
    * stays false); empty listing + dir present ⇒ a genuinely empty
    * snapshot, correct.
    *
    * Also normalizes to declared column ORDER: a hive-partitioned
    * version ([[commitPartitioned]]) surfaces its partition columns
    * appended last regardless of the declared schema. `extra` columns
    * follow the schema's, projected directly above the scan (where
    * `_metadata` resolves). */
  private def readData(spark: SparkSession, root: String, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val df = spark.read.schema(schema).parquet(dir)
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq ++ extra: _*)
    if (df.inputFiles.isEmpty && !Ingest.fs(spark, root).exists(new Path(dir)))
      throw new IllegalStateException(
        s"warehouse read raced a prune: $dir vanished during file listing —" +
          " re-resolve the version and retry (a silent empty scan is refused)")
    df
  }

  /** Write `df` as the next snapshot and atomically publish it.
    * Returns the committed version.
    *
    * Safety properties (the reference gets these from one Postgres
    * transaction, `cocoa_processing_dag.py:221,237`):
    *  - writer-writer: a LEASED lock file (holder-id + timestamp)
    *    taken with create(overwrite=false) serializes concurrent
    *    commits; a crashed holder's lease is reclaimed automatically
    *    by the next committer once older than `lockTtlMs` — no
    *    operator intervention ([[acquireLease]]);
    *  - writer-writer data isolation: each holder writes its snapshot
    *    into a PRIVATE staging directory (`.v{n}_{holderId}`) and only
    *    an atomic directory rename makes it `v{n}` — so a stalled
    *    holder whose lease is reclaimed can never interleave part
    *    files into the directory its successor publishes (the
    *    delete+overwrite shape had exactly that write-write window);
    *  - fencing: immediately before the publish rename the committer
    *    re-reads the lock and verifies it still carries ITS holder-id
    *    and that `_VERSION` is unchanged since acquisition. A holder
    *    that stalled past the TTL and lost its lease ABORTS — its
    *    staging dir is its own, deleted on exit, and version numbers
    *    are never reused — instead of publishing over the new
    *    holder's commit;
    *  - version monotonicity: `next` is 1 + the max over BOTH the
    *    pointer and all complete snapshot dirs, so a crash after
    *    snapshot-write but before publish can never cause a version
    *    number to be reused/overwritten;
    *  - pointer swap: FileContext.rename(OVERWRITE) replaces
    *    `_VERSION` atomically — no delete-then-rename window in which
    *    readers see no pointer.
    *
    * Residual window (inherent to TTL leases on a plain filesystem —
    * closing it entirely needs a CAS primitive, i.e. Postgres/ZK/Delta
    * commit service): the fencing read and the rename are not one
    * atomic step, so a holder paused BETWEEN them for longer than the
    * TTL could still double-publish. The TTL is sized orders of
    * magnitude above that gap (milliseconds). */
  def commit(spark: SparkSession, root: String, df: DataFrame,
      lockTtlMs: Long = DefaultLockTtlMs,
      expectedCurrent: Option[Option[Long]] = None,
      audit: Option[DataFrame => Unit] = None,
      partitionBy: Seq[String] = Seq.empty): Long =
    publishVersion(spark, root, lockTtlMs, expectedCurrent,
        op = "commit") { (stage, _) =>
      val writer = df.write.mode("overwrite")
      (if (partitionBy.isEmpty) writer
       else writer.partitionBy(partitionBy: _*)).parquet(stage.toString)
      // WRITE-AUDIT-PUBLISH seam (the Iceberg WAP pattern): the audit
      // runs against a re-read of the STAGED files — exactly the
      // bytes that would publish, not the logical plan that produced
      // them — so even a nondeterministic upstream cannot slip
      // unaudited data past it. A throw here aborts the commit; the
      // staging dir is deleted and no version, pointer, or partial
      // state is ever visible to a reader.
      audit.foreach(check =>
        check(spark.read.schema(df.schema).parquet(stage.toString)))
    }

  /** The COMMIT PROTOCOL, and its only implementation: every version
    * publisher ([[commit]], the manifest commits, [[publishStaged]],
    * [[cloneShallow]], [[renameColumns]], [[publishSnapshotGroup]])
    * goes through here (see [[commit]]'s scaladoc for the full safety
    * argument): lease → fence (`expectedCurrent` read-modify-write +
    * raw-pointer pin) → `stageContent(stagingDir, next)` writes the
    * version's content into a holder-private dot-dir (which does not
    * exist yet) → re-fence (lease still ours, pointer unmoved) →
    * atomic no-overwrite rename to `v{next}` → atomic pointer swap. A
    * throw anywhere aborts with the staging dir deleted and nothing
    * published. `op` names the caller in every error message. */
  private def publishVersion(spark: SparkSession, root: String,
      lockTtlMs: Long, expectedCurrent: Option[Option[Long]], op: String)(
      stageContent: (Path, Long) => Unit): Long = {
    val fs = Ingest.fs(spark, root)
    fs.mkdirs(new Path(root))
    val lock = new Path(root, lockFile)
    val holderId = java.util.UUID.randomUUID().toString
    acquireLease(fs, lock, holderId, lockTtlMs)
    var staging: Option[Path] = None
    try {
      // the raw pointer (NOT the snapshot-recovered version): the
      // fencing comparison below must not be perturbed by our own
      // snapshot dir appearing in completeSnapshots mid-commit.
      val pointerAtAcquire = pointerVersion(fs, root)
      // Read-modify-write fencing (compact, and any other caller whose
      // content was DERIVED from a version resolved before this
      // lease): if the pointer moved past the version the caller based
      // its write on, publishing would silently drop the interleaved
      // commit's rows — abort instead.
      expectedCurrent.foreach { expected =>
        if (pointerAtAcquire != expected)
          throw new IllegalStateException(
            s"$op fenced: caller derived its snapshot from version" +
              s" $expected but $versionFile now reads $pointerAtAcquire —" +
              " a commit interleaved; re-derive and retry")
      }
      val next = (currentVersion(spark, root).toSeq ++
        completeSnapshots(spark, root)).maxOption.map(_ + 1).getOrElse(0L)
      // PRIVATE staging dir: only this holder ever writes it, so a
      // reclaimed-lease zombie still writing cannot touch what the
      // new holder publishes. Dot-prefixed ⇒ invisible to
      // completeSnapshots and to parquet readers.
      val stage = new Path(root, s".v${next}_$holderId")
      staging = Some(stage)
      stageContent(stage, next)
      // fencing: publish only while the lease is still OURS and nobody
      // committed underneath us (lost lease ⇒ a breaker judged us
      // crashed and may be mid-commit itself).
      if (!readLease(fs, lock).exists(_.holderId == holderId))
        throw new IllegalStateException(
          s"$op fenced: lease on $lock was reclaimed (this committer" +
            s" stalled past the ${lockTtlMs}ms TTL); snapshot v$next left" +
            " unpublished")
      if (pointerVersion(fs, root) != pointerAtAcquire)
        throw new IllegalStateException(
          s"$op fenced: $versionFile advanced past $pointerAtAcquire" +
            s" during this commit; snapshot v$next left unpublished")
      // Publish the snapshot: atomic rename, NO overwrite. Under the
      // lease only this holder targets v{next}; a leftover v{next}
      // can only be an INCOMPLETE orphan (no _SUCCESS — after this
      // protocol every real v-dir appears atomically complete), which
      // is invisible to recovery and safe to clear under the lease.
      val target = new Path(versionPath(root, next))
      if (fs.exists(target)) {
        if (fs.exists(new Path(target, "_SUCCESS")))
          throw new IllegalStateException(
            s"$op fenced: complete snapshot $target appeared during this" +
              " commit (concurrent writer?); aborting unpublished")
        fs.delete(target, true)
      }
      if (!fs.rename(stage, target))
        throw new IllegalStateException(
          s"$op failed: could not publish $stage as $target")
      staging = None
      replaceText(fs, new Path(root), versionFile, next.toString)
      next
    } finally {
      staging.foreach(s => try fs.delete(s, true)
        catch { case _: java.io.IOException => () })
      // release only a lease we still own — never a successor's lock
      if (readLease(fs, lock).exists(_.holderId == holderId))
        fs.delete(lock, false)
    }
  }

  // ──────────────────── manifest commits: O(Δ) DML ────────────────────

  /** Marker file of a MANIFEST version: the snapshot's row set is the
    * union of the LISTED parquet files (root-relative paths, one per
    * line) rather than the version dir's own listing — the
    * Delta/Iceberg file-list metadata idea on a plain filesystem. The
    * version dir holds only the files the commit NEWLY wrote (plus
    * `_SUCCESS` and this list); unchanged data is carried by
    * REFERENCE. That is what makes DML O(Δ) instead of O(table):
    * [[appendFiles]] writes only the appended rows, [[deleteWhereFiles]]
    * / [[updateWhereFiles]] / [[mergeFiles]] rewrite only the files
    * that contain touched rows — at 100 TB the difference between a
    * KB..GB write and re-copying the table. [[commit]] remains the
    * whole-snapshot mode; [[compact]] folds a manifest chain back into
    * one plain snapshot (the maintenance valve that restores every
    * refused composition below).
    *
    * Composition contract, loud and never silent: a manifest commit
    * refuses a current version that carries deletion vectors (their
    * keys are data-dir-scoped), a rename map (it renames a data DIR's
    * footers; a manifest has no single dir), hive partitioning (a file
    * LIST cannot reconstruct dir-encoded partition values), or a clone
    * pointer (its files live in another root that may vacuum them) —
    * each refusal names the valve. [[vacuum]] is manifest-aware: a
    * version dir whose files any RETAINED manifest still references
    * survives the retention floor.
    *
    * Each line of a NEWLY written file also carries its per-file
    * MIN/MAX data-skipping stats as a JSON column (the Delta
    * per-file-stats-in-the-log idea), so selective reads prune files
    * at PLANNING with zero I/O ([[graft.sources.v2.ManifestFileIndex]]).
    * The stats are collected by the write job itself, one pass over
    * the rows as they are written
    * ([[org.apache.spark.sql.graftbridge.FileStatsTracker]]) — never
    * by re-reading the files, and never from parquet footers (Spark
    * writes timestamps as INT96, whose footer min/max is undefined).
    * Carried lines keep their stats verbatim. */
  private val manifestFile = "_MANIFEST"

  /** Manifest length past which each commit logs a loud warning naming
    * [[optimizeFiles]] — the metadata-growth guard (~0.5 KB/line means
    * 100k lines ≈ 50 MB of driver-side manifest text per resolution). */
  private[graft] val WarnManifestFiles: Int = 100000

  /** Version `v`'s manifest lines — `relpath<TAB>size<TAB>mtime` per
    * data file (legacy lines may carry the path alone) — or None for
    * a plain (whole-dir) snapshot. The path is always the line's
    * first tab-column, so prefix checks work on raw lines.
    *
    * CACHED by (qualified path, length, mtime): one manifest
    * resolution touches this several times (carry lines, entries,
    * stats, schema kind, partition cols), and at 100k-line manifests
    * each uncached call is a tens-of-MB read+split — the identity key
    * makes the cache safe (published version dirs are immutable; a
    * vacuumed version fails the getFileStatus and reads None exactly
    * as before). Bounded by BYTES, not entries: manifests are
    * ~0.5 KB/file, so 128 large-table entries could pin GBs of driver
    * heap — each cache clears wholesale past 64 MB of manifest text
    * (the on-disk length is the size proxy for the parsed forms). */
  private val ManifestCacheMaxBytes = 64L * 1024 * 1024
  private val manifestCacheBytes = new java.util.concurrent.atomic.AtomicLong
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Seq[String])]()

  private[graft] def manifestOf(fs: FileSystem, root: String,
      v: Long): Option[Seq[String]] = {
    val p = new Path(versionPath(root, v), manifestFile)
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val key = fs.makeQualified(p).toString
    val hit = manifestCache.get(key)
    if (hit != null && hit._1 == st.getLen && hit._2 == st.getModificationTime)
      return Some(hit._3)
    val lines = readText(fs, p).linesIterator.filter(_.nonEmpty).toSeq
    if (manifestCacheBytes.addAndGet(st.getLen) > ManifestCacheMaxBytes) {
      manifestCache.clear()
      manifestCacheBytes.set(st.getLen)
    }
    manifestCache.put(key, (st.getLen, st.getModificationTime, lines))
    Some(lines)
  }

  /** Sidecar naming a manifest version's hive partition COLUMNS, in
    * nesting order (one name per line). The partition VALUES are not
    * persisted anywhere else — each file's `k=v` path fragments are
    * the value carrier, exactly the hive layout contract (the
    * manifest relpath is dir-qualified, so the fragments ride every
    * carry verbatim). Absent = flat manifest. */
  private val manifestPartsFile = "_MANIFEST_PARTS"

  /** Version `v`'s manifest partition columns (empty = flat or not a
    * manifest version). */
  private[graft] def manifestParts(fs: FileSystem, root: String,
      v: Long): Seq[String] = {
    val p = new Path(versionPath(root, v), manifestPartsFile)
    if (!fs.exists(p)) Seq.empty
    else readText(fs, p).linesIterator.filter(_.nonEmpty).toSeq
  }

  /** Recursive `*.parquet` listing under `dir`, excluding any file
    * with a `_`- or `.`-prefixed path segment relative to `dir` (the
    * builtin hidden-path rule — `_zonemap` sidecars, `_SUCCESS`,
    * staging dirs). Hive partition dirs (`k=v`) descend normally. */
  private def listDataFiles(fs: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val dirQ = fs.makeQualified(dir).toString.stripSuffix("/")
    val it = fs.listFiles(dir, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet")) {
        val abs = fs.makeQualified(s.getPath).toString
        val hidden = abs.startsWith(dirQ + "/") &&
          abs.stripPrefix(dirQ + "/").split("/")
            .exists(seg => seg.startsWith("_") || seg.startsWith("."))
        if (!hidden) buf += s
      }
    }
    buf.toSeq
  }

  /** Absolute, filesystem-QUALIFIED data file paths of version `v`
    * ([[Snapshot.files]]) — they compare exactly against
    * `_metadata.file_path`-derived keys. */
  private[graft] def dataFilesOf(spark: SparkSession, root: String,
      v: Long): Seq[String] = snapshot(spark, root, v).files.map(_.path)

  /** Version `v`'s data files WITH their (size, mtime) — a manifest
    * version's persisted entries, a plain version's one listing
    * ([[Snapshot.files]]). */
  private[graft] def dataFileEntries(spark: SparkSession, root: String,
      v: Long): Seq[(String, Long, Long)] =
    snapshot(spark, root, v).files.map(e => (e.path, e.size, e.mtime))

  /** One data file of a resolved version: its filesystem-qualified
    * path, persisted size and mtime, and the manifest line that
    * carries it into the next version VERBATIM (persisted sizes and
    * data-skipping stats survive every carry). */
  private[graft] final case class FileEntry(path: String, size: Long, mtime: Long,
      line: String)

  /** One manifest line parsed; legacy lines without the size columns
    * cost one stat. */
  private def manifestEntry(fs: FileSystem, root: String,
      line: String): FileEntry =
    line.split("\t", 4) match {
      case Array(rel, size, mtime, _*) if size.nonEmpty =>
        FileEntry(fs.makeQualified(new Path(root, rel)).toString,
          size.toLong, mtime.toLong, line)
      case Array(rel) =>
        val st = fs.getFileStatus(new Path(root, rel))
        FileEntry(fs.makeQualified(st.getPath).toString,
          st.getLen, st.getModificationTime, line)
    }

  /** One committed version resolved ONCE — the Delta `Snapshot` /
    * Iceberg `TableMetadata` idea on a plain filesystem. Every read
    * door, manifest-commit base, CDC path and connector scan
    * ([[graft.sources.v2]]) takes what it knows about a version from
    * here, so each of these rules is written once: manifest or plain
    * ([[manifest]]), the clone indirection ([[dataDir]]), completeness
    * ([[complete]]), which deletion-vector parts count ([[dvParts]]),
    * and the rename-era guard ([[eraBreak]]).
    *
    * Resolved up front by [[snapshot]]: the manifest lines (the one
    * cached [[manifestOf]] probe) and the clone-resolved data dir.
    * Everything that costs I/O is LAZY and computed at most once: the
    * rename map, partition columns, the physical [[schema]] (a
    * footer-inference Spark JOB on a plain version), the [[files]] (a
    * recursive LISTING on a plain version), per-file [[stats]], the
    * DV parts and their bytes, and the on-disk [[bytes]]. Lazy because
    * the benchmark's hot reads — an explicit-schema read of one
    * version ([[read]], [[readVersion]], the connector's plain scan,
    * which infers through its own `ParquetTable`) — need none of them:
    * resolving costs those reads no extra filesystem call or job,
    * while a path that needs one fact twice (the era guard and the
    * logical schema of a live read) pays for it once. Nothing caches
    * a Snapshot past the read or commit that resolved it — deletion
    * vectors attach to a version in place. */
  private[graft] final class Snapshot private[Warehouse] (
      private[Warehouse] val spark: SparkSession, fs: FileSystem,
      val root: String, val version: Long,
      val manifest: Option[Seq[String]], val dataDir: String) {
    private def dir = new Path(versionPath(root, version))

    def isManifest: Boolean = manifest.isDefined

    /** Published: `_SUCCESS` present, or a shallow-clone pointer. */
    lazy val complete: Boolean =
      fs.exists(new Path(dir, "_SUCCESS")) || fs.exists(new Path(dir, clonePointer))

    def requireComplete(op: String, context: String = ""): Unit =
      require(complete,
        s"$op: version $version of $root is missing or incomplete$context")

    /** Physical → logical column map; empty when the version was never
      * renamed (then logical ≡ physical). */
    lazy val p2l: Map[String, String] = {
      val p = new Path(dir, mappingFile)
      if (!fs.exists(p)) Map.empty
      else readText(fs, p).linesIterator.filter(_.nonEmpty).map { line =>
        val Array(phys, logical) = line.split("\t", 2)
        phys -> logical
      }.toMap
    }
    lazy val l2p: Map[String, String] = p2l.map(_.swap)

    /** `s` (physical names) under this version's logical names. */
    def logical(s: StructType): StructType =
      StructType(s.fields.map(f => f.copy(name = p2l.getOrElse(f.name, f.name))))

    /** Hive partition columns in nesting order (empty = flat): a
      * manifest version's persisted `_MANIFEST_PARTS`, a plain
      * version's nested `k=` directory chain (walked, not listed per
      * file — one listStatus per nesting level). */
    lazy val parts: Seq[String] =
      if (isManifest) manifestParts(fs, root, version)
      else {
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        var d = new Path(dataDir)
        var descend = true
        while (descend) {
          val sub = fs.listStatus(d).filter(s =>
            s.isDirectory && s.getPath.getName.contains("=") &&
              !s.getPath.getName.startsWith("_") &&
              !s.getPath.getName.startsWith("."))
          if (sub.isEmpty) descend = false
          else {
            val names = sub.map(_.getPath.getName.takeWhile(_ != '=')).distinct
            require(names.length == 1,
              s"partition layout of $root v$version mixes column dirs" +
                s" (${names.mkString(", ")}) at one level")
            buf += names.head
            d = sub.head.getPath
          }
        }
        buf.toSeq
      }

    /** The PHYSICAL effective schema: a manifest version's schema
      * persisted at commit time (`_MANIFEST_SCHEMA`; a deterministic
      * by-name footer merge for a legacy manifest without it), a plain
      * version's inference over its uniform data dir. */
    lazy val schema: StructType = manifest match {
      case None => spark.read.parquet(dataDir).schema
      case Some(_) =>
        val p = new Path(dir, manifestSchemaFile)
        if (fs.exists(p)) {
          val parsed = org.apache.spark.sql.types.DataType.fromJson(readText(fs, p))
            .asInstanceOf[StructType]
          // NULLABLE-RELAXED, the same rule parquet reads and
          // DataFrameReader.schema() apply: a widened chain's older
          // files MISS the widened columns (null-fill is the contract),
          // and a non-nullable field here would let the analyzer
          // constant-fold `col IS NULL` to FALSE over connector reads —
          // silently wrong results, not just a reader error
          StructType(parsed.fields.map(_.copy(nullable = true)))
        } else files match {
          // legacy manifest without the sidecar: deterministic by-name
          // union (one footer job), never a one-footer sample
          case Seq() => StructType(Nil)
          case entries => spark.read.option("mergeSchema", "true")
            .parquet(entries.map(_.path): _*).schema
        }
    }

    /** The version's data files: a manifest version's persisted
      * entries (the manifest IS the listing — zero stat calls, the
      * Delta-log property), or one recursive, hidden-aware listing of
      * a plain version's data dir (hive `k=v` subdirs included, a
      * `_zonemap` sidecar excluded). A plain version's lines are
      * synthesized root-relative without stats — what the zero-copy
      * conversion INTO manifest mode carries (unknown files are never
      * pruned); a clone's files live outside the root and keep their
      * absolute path, never carried ([[commitHead]] refuses clones). */
    lazy val files: Seq[FileEntry] = manifest match {
      case Some(lines) => lines.map(manifestEntry(fs, root, _))
      case None =>
        val rootQ = fs.makeQualified(new Path(root)).toString.stripSuffix("/")
        listDataFiles(fs, new Path(dataDir)).map { st =>
          val abs = fs.makeQualified(st.getPath).toString
          FileEntry(abs, st.getLen, st.getModificationTime,
            s"${abs.stripPrefix(rootQ + "/")}\t${st.getLen}\t${st.getModificationTime}")
        }
    }

    /** Persisted per-file data-skipping stats ([[statsOf]]); empty for
      * a plain version. */
    lazy val stats: Map[String, Map[String, (Option[Any], Option[Any])]] = statsOf(this)

    /** All COMPLETE deletion-vector part dirs scoped to this version
      * (each `d_{uuid}` published by one [[deleteWhere]] call) — exactly
      * the set a DV read consumes: an in-flight or crashed
      * `.stage_d_*` staging dir, or a part without `_SUCCESS`, never
      * counts. */
    lazy val dvParts: Seq[Path] = {
      val d = new Path(dvPath(root, version))
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("d_") &&
          fs.exists(new Path(s.getPath, "_SUCCESS")))
        .map(_.getPath)
    }

    /** On-disk bytes of [[dvParts]] (one content summary per part). */
    lazy val dvBytes: Long = dvParts.map(p => fs.getContentSummary(p).getLength).sum

    /** [[dvParts]] unioned as (file, pos) rows; None when no delete has
      * ever run against this version. */
    def dvFrame: Option[DataFrame] =
      if (dvParts.isEmpty) None
      else Some(spark.read.schema(dvSchema).parquet(dvParts.map(_.toString): _*))

    /** On-disk data bytes: a manifest version's PERSISTED sizes (never
      * one stat per file on exactly the tables the manifest spares from
      * listings), a plain version's one dir content summary. */
    lazy val bytes: Long =
      if (isManifest) files.map(_.size).sum
      else Ingest.fs(spark, dataDir).getContentSummary(new Path(dataDir)).getLength

    /** The rename-map era this version belongs to ([[eraMaps]]): its
      * data dir — or, for a manifest version, the one era its whole
      * chain shares (physical names are stable across it and every
      * commit re-persists the same COMPOSED map). */
    def eraKey: String = if (isManifest) s"$root#manifest-era" else dataDir

    /** The rows under an explicit schema — a plain version by its
      * (clone-resolved) data dir ([[readData]]), a manifest version
      * planned over [[graft.sources.v2.ManifestFileIndex]], the SAME
      * relation the connector serves: ZERO filesystem listing and ZERO
      * per-file stat calls at planning (sizes/mtimes ride the manifest
      * lines), per-file min/max DATA SKIPPING from the persisted stats,
      * and hive partition columns served from the path fragments with
      * static partition pruning. A file vacuumed from under the plan
      * fails the task loudly (`ignoreMissingFiles` stays false). */
    def frame(schema: StructType): DataFrame = manifest match {
      case None => readData(spark, root, dataDir, schema)
      case Some(_) => entriesFrame(spark, this, files, schema, withStats = true)
    }

    /** A SUBSET of a manifest version's files (root-relative paths) as
      * an index-backed frame under `schema` — the O(Δ) read behind the
      * manifest-append fast paths (change feed, snapshot stream): only
      * the named files plan, partition columns served from their
      * fragments. */
    def filesFrame(relPaths: Set[String], schema: StructType): DataFrame = {
      val abs = relPaths.map(r => fs.makeQualified(new Path(root, r)).toString)
      entriesFrame(spark, this, files.filter(e => abs(e.path)), schema)
    }

    /** The rows under the version's own PHYSICAL schema, pre-DV. */
    def raw: DataFrame =
      if (isManifest) frame(schema) else spark.read.parquet(dataDir)

    /** `eraOf`-era logical name → the PHYSICAL name in this version's
      * files: the rename-map chain between the two versions walked
      * BACKWARD from the caller's names. Maps are keyed by data-dir era
      * ([[eraKey]] — a rename is a pointer version over its
      * predecessor's dir, and [[renameColumns]] COMPOSES a second
      * rename on the same dir into one map instead of chaining), so
      * the walk groups versions `version..eraOf` into contiguous era
      * runs, takes each run's LAST map, and inverts them newest-first.
      * O(versions) metadata reads — diff/feed/merge/stream-replay
      * cost, never a query hot path. */
    def eraL2P(eraOf: Long, logicalNames: Seq[String]): Map[String, String] =
      if (eraOf <= version) l2p.filter { case (l, p) => l != p }
      else {
        val maps = eraMaps(this, eraOf) // oldest→newest
        logicalNames.map { n =>
          n -> maps.reverseIterator.foldLeft(n)((cur, m) =>
            m.collectFirst { case (p, l) if l == cur => p }.getOrElse(cur))
        }.toMap.filter { case (l, p) => l != p }
      }

    /** The RENAME-ERA GUARD: `phys` (a caller's columns translated to
      * this version's physical names) against the files' schema. A
      * pinned column missing from the files WHILE the files carry an
      * unclaimed one is an untranslated rename, whose read would
      * null-fill silently: Some((missing, unclaimed)), for the caller
      * to refuse loudly. Missing-only is the legal ADD-COLUMNS widening
      * (a pre-widening version read under the widened schema null-fills
      * the new columns BY CONTRACT): None. */
    def eraBreak(phys: Seq[String]): Option[(Seq[String], Set[String])] = {
      val onDisk = schema.fieldNames.toSet
      val missing = phys.filterNot(onDisk.contains)
      val extra = onDisk -- phys
      if (missing.nonEmpty && extra.nonEmpty) Some((missing, extra)) else None
    }
  }

  /** Resolve version `v` of `root` into its [[Snapshot]]: the cached
    * manifest probe, then, for a non-manifest version, the `_CLONE`
    * indirection — a shallow-cloned version's data dir is the source
    * snapshot dir its pointer names, so clones are first-class
    * everywhere (read/diff/change-feed/time-travel/compact/restore),
    * and committing ON a cloned root writes real data dirs
    * (copy-on-write at version granularity). CORRECT-OR-LOUD: a clone
    * whose source snapshot was vacuumed fails here with a named error
    * instead of an empty read (the explicit-schema parquet read would
    * otherwise return ZERO ROWS silently — the one failure mode a
    * lakehouse must not have). A version that does not exist resolves
    * as an empty plain dir; callers that need it published check
    * [[Snapshot.complete]]. */
  private[graft] def snapshot(spark: SparkSession, root: String, v: Long): Snapshot = {
    val fs = Ingest.fs(spark, root)
    val manifest = manifestOf(fs, root, v)
    val marker = new Path(versionPath(root, v), clonePointer)
    val dataDir =
      if (manifest.isDefined || !fs.exists(marker)) versionPath(root, v)
      else {
        val target = readText(fs, marker).trim
        if (!fs.exists(new Path(target, "_SUCCESS")))
          throw new IllegalStateException(
            s"shallow clone $root/v$v references $target, which is missing or" +
              " incomplete (source vacuumed past its retention floor?) —" +
              " refusing a silent empty read; re-clone or restore the source")
        target
      }
    new Snapshot(spark, fs, root, v, manifest, dataDir)
  }

  /** The CURRENT version resolved as a manifest commit's base, refused
    * per the composition contract on [[manifestFile]]; None for a root
    * with no committed version. */
  private def commitHead(spark: SparkSession, root: String): Option[Snapshot] =
    currentVersion(spark, root).map { cur =>
      val s = snapshot(spark, root, cur)
      require(s.dvParts.isEmpty,
        s"manifest commit: $root v$cur carries deletion vectors — applyDv" +
          " (or compact) first")
      if (!s.isManifest) {
        require(s.dataDir == versionPath(root, cur),
          s"manifest commit: $root v$cur is a shallow-clone pointer — compact" +
            " first (gives the clone its own files)")
        require(s.p2l.isEmpty,
          s"manifest commit: $root v$cur is a renamed plain snapshot (a clone" +
            " pointer + map) — compact first (materializes the logical names)")
      }
      // hive partitioning COMPOSES (manifest relpaths keep their `k=v`
      // fragments; _MANIFEST_PARTS names the columns), and so do RENAME
      // maps on MANIFEST versions (carried forward by every commit; DML
      // translates logical ⇄ physical at its boundaries)
      s
    }

  /** Version `v`'s SNAPSHOT-FILE rows, schema inferred from its own
    * files — the pre-DV raw read the SQL introspection surface
    * (graft_history et al.) uses. Manifest-aware: a manifest version
    * reads its LISTED files under its PERSISTED schema (a raw dir read
    * would count only the newly-written ones; a widened chain has
    * mixed footers, an emptied one none at all). */
  private[graft] def readVersionRaw(spark: SparkSession, root: String,
      v: Long): DataFrame = snapshot(spark, root, v).raw

  /** The file-identity key of `absPath` as `_metadata.file_path`
    * renders it (URL-encoded URI — see the DV-key precedent). */
  private def sparkPathKey(absPath: String): String =
    org.apache.spark.paths.SparkPath.fromPath(new Path(absPath)).toString

  /** `df` with `m`'s renames applied to matching columns (others,
    * including helper columns like `__file`, pass through). */
  private def renameCols(df: DataFrame, m: Map[String, String]): DataFrame =
    if (m.isEmpty || !df.columns.exists(m.contains)) df
    else df.select(df.columns.toSeq.map(c =>
      org.apache.spark.sql.functions.col(s"`$c`").as(m.getOrElse(c, c))): _*)

  /** Schema compatibility for manifest DML: every CURRENT column must
    * arrive with its type intact (nullability excluded — parquet reads
    * relax it), any order; EXTRA incoming columns are the additive
    * ADD-COLUMNS widening (earlier files read them as NULL by name —
    * the declared-evolution contract). A missing or retyped current
    * column is loud: that null-fill would be silent data loss. */
  private def requireSameColumns(incoming: org.apache.spark.sql.types.StructType,
      current: org.apache.spark.sql.types.StructType, what: String): Unit = {
    val in = incoming.fields.map(f => f.name -> f.dataType).toMap
    val bad = current.fields.filterNot(f => in.get(f.name).contains(f.dataType))
    require(bad.isEmpty,
      s"$what: incoming frame drops or retypes current column(s)" +
        s" ${bad.map(_.name).mkString(", ")} — manifest DML never" +
        " null-fills silently (renames need compact + renameColumns;" +
        " extra incoming columns are the legal additive widening)")
  }

  /** Sidecar persisting a manifest version's EFFECTIVE schema —
    * written at commit time because footer inference over a
    * MIXED-footer file set (after an additive widening) is
    * nondeterministic (parquet samples one footer under
    * mergeSchema=false), and because a delete-everything manifest has
    * no footer at all. The Delta metadata-action idea: the schema is
    * table metadata, never re-derived from data files. */
  private val manifestSchemaFile = "_MANIFEST_SCHEMA"

  /** The EFFECTIVE (physical) schema of version `v`
    * ([[Snapshot.schema]]). */
  private[graft] def effectiveSchema(spark: SparkSession, root: String,
      v: Long): StructType = snapshot(spark, root, v).schema

  /** Run `f` with AQE disabled on `spark`'s session, restoring the
    * previous value after. The warehouse's per-commit METADATA queries
    * (touched-file planning, the merge source's dup check) are
    * bounded O(files)-row collects; AQE materializes each
    * of their exchanges as its OWN Spark job — pure scheduling latency
    * (~0.1-0.2 s/job locally) that DML-heavy workloads pay per
    * statement, with nothing for AQE to re-plan at these sizes
    * (measured: a manifest delete drops from 6 jobs to 4; the w02
    * ten-delete row sheds ~20 jobs). Result-identical by construction:
    * exact aggregations/semi-joins whose physical shape is all AQE
    * could change. Set/restore on the caller's session (the
    * withStreamPartitions pattern) — commit paths are single-threaded
    * per session, and a throw restores via finally. A key the caller
    * never set is UNSET again, not pinned to its default: the
    * previous value comes from `conf.getAll` (explicit sets only),
    * since `conf.getOption` reports the registered default for an
    * unset key. */
  private def withAqeOff[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getAll.get(key)
    if (prev.contains("false")) f
    else {
      spark.conf.set(key, "false")
      try f finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** The staged parquet files of a manifest commit, as
    * `v{next}/[k=v/…]name` manifest entries (with size, mtime, and
    * the data-skipping stats the write itself collected — `stats` maps
    * each file's stage-relative literal path to its JSON, see
    * [[org.apache.spark.sql.graftbridge.FileStatsTracker]]), written
    * alongside the `_MANIFEST` list and the effective-schema sidecar.
    * A file without a `stats` entry (zero rows) gets no stats column
    * and is simply never pruned. A hive-PARTITIONED stage keeps its
    * partition dirs inside the relpath — the path fragments ARE the
    * partition-value store ([[manifestPartsFile]]) — and persists the
    * partition column names as the `_MANIFEST_PARTS` sidecar. */
  private def stageManifest(fs: FileSystem, stage: Path, next: Long,
      stats: Map[String, String], carried: Seq[String],
      effective: org.apache.spark.sql.types.StructType,
      parts: Seq[String], mapping: Map[String, String]): Unit = {
    val stageQ = fs.makeQualified(stage).toString.stripSuffix("/")
    val fresh = listDataFiles(fs, stage).map { s =>
      val rel = fs.makeQualified(s.getPath).toString
        .stripPrefix(stageQ + "/")
      val base = s"v$next/$rel\t${s.getLen}\t${s.getModificationTime}"
      stats.get(rel).fold(base)(j => s"$base\t$j")
    }
    val total = carried.size + fresh.size
    if (total > WarnManifestFiles)
      // the metadata-growth guard: loud, with the remediation named —
      // past ~100k lines the per-resolution manifest parse costs tens
      // of MB of driver text; optimizeFiles folds it back
      System.err.println(s"graft WARN: manifest of $stage is about to" +
        s" carry $total file entries (> $WarnManifestFiles) — run" +
        " Warehouse.optimizeFiles (bin-packs small files, stays in" +
        " manifest mode) or compact to bound metadata growth")
    writeText(fs, new Path(stage, manifestFile), (carried ++ fresh).mkString("\n"))
    writeText(fs, new Path(stage, manifestSchemaFile), effective.json)
    if (parts.nonEmpty)
      writeText(fs, new Path(stage, manifestPartsFile), parts.mkString("\n"))
    // the carried rename map (physical → logical): every manifest
    // commit re-persists it so any version of the chain resolves its
    // own logical names (columnMapping is per-version)
    if (mapping.nonEmpty)
      writeText(fs, new Path(stage, mappingFile), mapping.toSeq.sorted
        .map { case (p, l) => s"$p\t$l" }.mkString("\n"))
  }

  /** Replace `dir/name` with `text` atomically: write a `.name.tmp`
    * sibling, then `FileContext.rename(OVERWRITE)` — readers see the
    * old content or the new, never a missing or torn file. */
  private def replaceText(fs: FileSystem, dir: Path, name: String,
      text: String): Unit = {
    val tmp = new Path(dir, s".$name.tmp")
    writeText(fs, tmp, text)
    org.apache.hadoop.fs.FileContext.getFileContext(dir.toUri, fs.getConf)
      .rename(tmp, new Path(dir, name), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** A version's persisted per-file data-skipping stats: absolute
    * file path → column → (min, max) in the pruning-portable external
    * forms the commit's write collected
    * ([[org.apache.spark.sql.graftbridge.FileStatsTracker]]); files or
    * columns without stats are simply absent (never pruned). JSON nulls on BOTH sides mean an
    * all-null column in that file (equality can never match there —
    * the zone-map convention). A column whose `nan:` flag is set is
    * DROPPED here (NaN-bearing files must never be pruned — NaN sorts
    * above every numeric, so the stripped min/max understate it). */
  private val statsCacheBytes = new java.util.concurrent.atomic.AtomicLong
  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, Map[String, Map[String, (Option[Any], Option[Any])]])]()

  private def statsOf(s: Snapshot): Map[String, Map[String, (Option[Any], Option[Any])]] = {
    val lines = s.manifest.getOrElse(return Map.empty)
    val root = s.root
    val fs = Ingest.fs(s.spark, root)
    // same immutability-keyed cache as [[manifestOf]] — the JSON parse
    // is O(manifest text) and a single DML call plans several reads
    val cachePath = new Path(versionPath(root, s.version), manifestFile)
    val stOpt = scala.util.Try(fs.getFileStatus(cachePath)).toOption
    val cacheKey = fs.makeQualified(cachePath).toString
    stOpt.foreach { st =>
      val hit = statsCache.get(cacheKey)
      if (hit != null && hit._1 == st.getLen &&
        hit._2 == st.getModificationTime) return hit._3
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def side(n: com.fasterxml.jackson.databind.JsonNode): Option[Any] =
      if (n == null || n.isNull) None
      else if (n.isNumber) Some(n.decimalValue())
      else if (n.isTextual) Some(n.asText())
      else None
    // floating columns whose stats lack a `nan:` flag are LEGACY
    // (written before the flag existed, NaN silently stripped): their
    // max may understate NaN rows, so their stats must not prune —
    // the current writer always emits the flag for float/double
    val floating: Set[String] = s.schema.fields
      .collect { case f if f.dataType ==
        org.apache.spark.sql.types.FloatType || f.dataType ==
        org.apache.spark.sql.types.DoubleType => f.name }.toSet
    val parsed = lines.flatMap { line =>
      line.split("\t", 4) match {
        case Array(rel, _, _, json) =>
          val node = mapper.readTree(json)
          val cols = scala.collection.mutable.Map.empty[String, (Option[Any], Option[Any])]
          val it = node.fieldNames()
          while (it.hasNext) {
            val k = it.next()
            if (k.startsWith("min:")) {
              val c = k.drop(4)
              val nan = node.get(s"nan:$c")
              val legacyFloating = nan == null && floating(c)
              if (!legacyFloating && (nan == null || !nan.asBoolean(false)))
                cols(c) = (side(node.get(k)), side(node.get(s"max:$c")))
            }
          }
          Some(fs.makeQualified(new Path(root, rel)).toString -> cols.toMap)
        case _ => None
      }
    }.toMap
    stOpt.foreach { st =>
      if (statsCacheBytes.addAndGet(st.getLen) > ManifestCacheMaxBytes) {
        statsCache.clear()
        statsCacheBytes.set(st.getLen)
      }
      statsCache.put(cacheKey, (st.getLen, st.getModificationTime, parsed))
    }
    parsed
  }

  /** The PHYSICAL schema a commit of `incoming` (LOGICAL names) onto
    * `h` persists: every current column must arrive intact
    * ([[requireSameColumns]]); novel columns append in order — the
    * additive-evolution widening. A novel name colliding with a renamed
    * column's PHYSICAL name is loud: the widening would silently fold
    * its data into the wrong column. */
  private def widenedSchema(h: Snapshot, incoming: org.apache.spark.sql.types.StructType,
      what: String): org.apache.spark.sql.types.StructType = {
    val current = h.logical(h.schema)
    requireSameColumns(incoming, current, what)
    val novel = incoming.fields.filterNot(f => current.fieldNames.contains(f.name))
    val clash = novel.map(_.name).filter(h.schema.fieldNames.contains)
    require(clash.isEmpty,
      s"$what: new column(s) ${clash.mkString(", ")} collide with" +
        " the physical name of a renamed column — pick another name")
    org.apache.spark.sql.types.StructType(h.schema.fields ++ novel)
  }

  /** [[entriesFrame]] surfaced under the version's LOGICAL names —
    * the names DML predicates, assignments and merge sources use. */
  private def logicalFiles(spark: SparkSession, h: Snapshot, files: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType, withStats: Boolean = false,
      withFilePath: Boolean = false): DataFrame =
    renameCols(entriesFrame(spark, h, files, schema, withStats, withFilePath),
      h.p2l)

  /** The touched-file planner every file-granular DML shares: `h`'s
    * files split into (touched, kept), touched = holding at least one
    * row `select` keeps. `select` sees the LOGICAL names plus `__file`
    * over the index-backed scan: partition columns resolve (a raw file
    * read would null-fill them under a predicate) and the persisted
    * stats PRUNE candidate files before any task runs. The file list is
    * one driver-side collect bounded by the match's file spread — the
    * shape Delta's DELETE/MERGE planning uses. */
  private def planTouched(spark: SparkSession, h: Snapshot,
      select: DataFrame => DataFrame): (Seq[FileEntry], Seq[FileEntry]) = {
    if (h.files.isEmpty) return (Nil, Nil)
    val keys = withAqeOff(spark)(
      select(logicalFiles(spark, h, h.files, h.schema, withStats = true,
          withFilePath = true))
        .select(org.apache.spark.sql.functions.col("__file")).distinct()
        .collect()).map(_.getString(0)).toSet
    h.files.partition(e => keys(sparkPathKey(e.path)))
  }

  /** The publish step every manifest commit ends in: on top of `base`
    * (None = a fresh root; the read-modify-write fence pins it), `rows`
    * (LOGICAL names) land as the version's new files under PHYSICAL
    * names — the file set stays uniform across renames, the Delta
    * column-mapping contract — in hive layout `parts`; `kept` rides by
    * reference, and `schema` (physical), `parts` and the rename map
    * persist as the version's metadata. The write is ONE Spark job
    * that also collects the new files' data-skipping stats over
    * `schema`'s columns. A caller's `stageMarker` file
    * publishes ATOMICALLY with the version (the streaming sink's
    * exactly-once epoch rides the same rename as the rows it fences). */
  private def publishManifest(spark: SparkSession, root: String,
      base: Option[Snapshot], kept: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType, parts: Seq[String],
      lockTtlMs: Long, stageMarker: Option[(String, String)] = None)(
      rows: => DataFrame): Long = {
    val fs = Ingest.fs(spark, root)
    val p2l = base.fold(Map.empty[String, String])(_.p2l)
    publishVersion(spark, root, lockTtlMs,
        expectedCurrent = Some(base.map(_.version)), op = "commit") { (stage, next) =>
      val df = renameCols(rows, p2l.map(_.swap))
      val stats = new org.apache.spark.sql.graftbridge.FileStatsTracker(
        df.schema, parts, schema)
      org.apache.spark.sql.graftbridge.Bridge.writeParquet(df, stage.toString,
        parts, Seq(stats))
      stageManifest(fs, stage, next, stats.collected, kept.map(_.line),
        schema, parts, p2l)
      stageMarker.foreach { case (name, content) =>
        writeText(fs, new Path(stage, name), content) }
    }
  }

  /** O(Δ) APPEND — the manifest-mode insert: writes ONLY `df`'s rows
    * as new files and publishes a manifest carrying every existing
    * file by reference. On a table whose current version is a plain
    * snapshot this is the zero-copy conversion INTO manifest mode (the
    * first manifest simply lists the plain snapshot's files). Appends
    * are row-level, not keyed: a duplicate key is two rows — use
    * [[mergeFiles]] for upsert semantics. Returns the new version.
    *
    * HIVE PARTITIONING composes: an existing table's partition
    * columns are derived from its own layout (`_MANIFEST_PARTS`
    * sidecar, or the plain snapshot's `k=` dir chain on the zero-copy
    * conversion) and the fresh rows are written partitioned the same
    * way — partition pruning AND O(Δ) DML together, the Delta/Iceberg
    * pairing. `partitionBy` seeds the layout of a FIRST commit only
    * (an existing layout is authoritative; passing a different one is
    * loud). */
  def appendFiles(spark: SparkSession, root: String, df: DataFrame,
      lockTtlMs: Long = DefaultLockTtlMs,
      stageMarker: Option[(String, String)] = None,
      partitionBy: Seq[String] = Seq.empty): Long = {
    val base = commitHead(spark, root)
    val (schema, parts) = base match {
      case None =>
        partitionBy.foreach(p => require(df.columns.contains(p),
          s"appendFiles: partition column '$p' absent from the frame"))
        (df.schema, partitionBy)
      case Some(h) =>
        val widened = widenedSchema(h, df.schema, "appendFiles")
        require(partitionBy.isEmpty ||
          partitionBy.map(n => h.l2p.getOrElse(n, n)) == h.parts,
          s"appendFiles: table is partitioned by (${h.parts.mkString(", ")})" +
            s" — the requested (${partitionBy.mkString(", ")}) cannot apply" +
            " to an existing layout")
        (widened, h.parts)
    }
    publishManifest(spark, root, base, base.fold(Seq.empty[FileEntry])(_.files),
      schema, parts, lockTtlMs, stageMarker)(df)
  }

  /** FILE-GRANULAR DELETE — the manifest-mode delete: one predicate
    * scan finds the files containing matches (filters push down to
    * parquet, so untouched files are often skipped by row-group
    * stats), ONLY those files are rewritten without their matching
    * rows, and every other file rides into the new manifest by
    * reference. NULL predicate rows are kept (SQL DELETE three-valued
    * logic). Returns the new version, or None when nothing matched
    * (no version published — a no-op delete must not burn history).
    *
    * Scale shape: the rewrite cost is O(touched files), not O(table);
    * the touched-file list itself is collected on the driver —
    * bounded by the match's file spread, the same driver-side shape
    * Delta's OPTIMIZE/DELETE planning uses. */
  def deleteWhereFiles(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      lockTtlMs: Long = DefaultLockTtlMs): Option[Long] = {
    import org.apache.spark.sql.functions._
    val h = commitHead(spark, root).getOrElse(
      throw new IllegalStateException(
        s"deleteWhereFiles: no committed snapshot under $root"))
    val (touched, kept) = planTouched(spark, h, _.filter(predicate))
    if (touched.isEmpty) return None
    // the version's FULL effective schema, never a caller-supplied
    // one: rewriting touched files under a narrower schema would
    // silently drop their extra (widened) columns
    Some(publishManifest(spark, root, Some(h), kept, h.schema, h.parts,
      lockTtlMs)(logicalFiles(spark, h, touched, h.schema)
        .filter(!coalesce(predicate, lit(false)))))
  }

  /** FILE-GRANULAR UPDATE — `SET col = expr` applied to predicate
    * matches, rewriting only the files that contain them ([[
    * deleteWhereFiles]]'s plan with a projection instead of a filter).
    * Assignments cast back to the column's declared type, so an
    * update can never silently retype a column. Returns the new
    * version, or None when nothing matched. */
  def updateWhereFiles(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      lockTtlMs: Long = DefaultLockTtlMs): Option[Long] = {
    import org.apache.spark.sql.functions._
    require(set.nonEmpty, "updateWhereFiles: empty SET")
    val h = commitHead(spark, root).getOrElse(
      throw new IllegalStateException(
        s"updateWhereFiles: no committed snapshot under $root"))
    val logicalSchema = h.logical(h.schema)
    set.keys.foreach(k => require(logicalSchema.fieldNames.contains(k),
      s"updateWhereFiles: SET names unknown column '$k'"))
    val logicalParts = h.parts.map(p => h.p2l.getOrElse(p, p))
    set.keys.foreach(k => require(!logicalParts.contains(k),
      s"updateWhereFiles: '$k' is a partition column — reassigning it" +
        " moves rows across partitions; delete + append instead"))
    val (touched, kept) = planTouched(spark, h, _.filter(predicate))
    if (touched.isEmpty) return None
    val hit = coalesce(predicate, lit(false))
    // ONE projection, every RHS evaluated against the OLD row (SQL
    // UPDATE semantics) — sequential withColumn would feed later
    // assignments already-updated values in Map iteration order
    Some(publishManifest(spark, root, Some(h), kept, h.schema, h.parts,
      lockTtlMs)(logicalFiles(spark, h, touched, h.schema)
        .select(logicalSchema.fields.map { f =>
          set.get(f.name) match {
            case Some(e) => when(hit, e.cast(f.dataType))
              .otherwise(col(s"`${f.name}`")).as(f.name)
            case None => col(s"`${f.name}`")
          }
        }.toSeq: _*)))
  }

  /** FILE-GRANULAR keyed UPSERT (last-writer-wins MERGE) — the
    * manifest-mode [[Merge.upsert]]: only files containing a source
    * key are rewritten (matched rows replaced by the source's image),
    * all source rows land as new files (updates + inserts together),
    * and untouched files ride by reference. Duplicate keys in the
    * source are refused loudly (ON CONFLICT parity — two images for
    * one key has no deterministic winner). Returns the new version. */
  def mergeFiles(spark: SparkSession, root: String, source: DataFrame,
      keyCol: String = CocoaSchema.mergeKey,
      lockTtlMs: Long = DefaultLockTtlMs,
      stageMarker: Option[(String, String)] = None): Long = {
    import org.apache.spark.sql.functions._
    require(source.columns.contains(keyCol),
      s"mergeFiles: source has no key column '$keyCol'")
    val h = commitHead(spark, root).getOrElse(
      // first commit: the merge IS the table
      return appendFiles(spark, root, source, lockTtlMs, stageMarker))
    // full effective schema, widened by the source's novel columns —
    // see [[deleteWhereFiles]]'s rationale; survivors of touched
    // files null-fill the widened columns (the additive contract)
    val schema = widenedSchema(h, source.schema, "mergeFiles")
    // PIN the source FIRST (it evaluates in several jobs: dup check,
    // touched-file plan, final write — a nondeterministic upstream
    // could pass the check yet materialize a duplicate), THEN check
    // the pinned rows
    val src = source.select(
      h.logical(schema).fieldNames.map(n => col(s"`$n`")).toSeq: _*)
      .localCheckpoint(true)
    // ONE job: a global aggregate, not limit(1), whose collect scans
    // one shuffle partition first and runs a second job whenever the
    // source is clean. groupBy puts NULL keys in one group, so two
    // NULL keys are a duplicate too.
    val dup = withAqeOff(spark)(src.groupBy(col(s"`$keyCol`").as("__k")).count()
      .filter(col("count") > 1)
      .agg(count(lit(1)), min(col("__k"))).head())
    require(dup.getLong(0) == 0,
      s"mergeFiles: source carries duplicate key '${dup.get(1)}'" +
        " — no deterministic last-writer; dedupe first")
    val srcKeys = src.select(col(s"`$keyCol`").as("__mk")).distinct()
    def byKey(df: DataFrame, how: String) =
      df.join(srcKeys, col(s"`$keyCol`") === col("__mk"), how)
    val (touched, kept) = planTouched(spark, h, byKey(_, "left_semi"))
    publishManifest(spark, root, Some(h), kept, schema, h.parts, lockTtlMs,
        stageMarker) {
      if (touched.isEmpty) src
      else byKey(logicalFiles(spark, h, touched, schema), "left_anti")
        .unionByName(src)
    }
  }

  /** Thrown by [[commitAudited]] when the staged snapshot fails its
    * audit; carries the non-zero (constraint_name, n_violations)
    * rows. The staged data is already deleted when this propagates —
    * the warehouse is exactly as it was before the call. */
  final class WapAuditException(val report: Seq[(String, Long)])
    extends RuntimeException(
      "write-audit-publish: staged snapshot failed audit — " +
        report.map { case (n, c) => s"$n=$c" }.mkString(", "))

  /** WRITE-AUDIT-PUBLISH: commit `df` only if the STAGED files pass
    * every row [[graft.operators.Audit.RowCheck]] (and, when given,
    * the key-uniqueness check) with ZERO violations; otherwise the
    * staging dir is destroyed and [[WapAuditException]] carries the
    * violation report. This is the Iceberg/Delta WAP production
    * pattern — a load job cannot publish garbage, and a reader can
    * never observe a half-validated snapshot, because validation
    * happens between the (private, invisible) staging write and the
    * atomic publish rename.
    *
    * Scale shape: all row checks fold into ONE scan of the staged
    * data (a single conditional-count aggregate), uniqueness is one
    * key-grouped count; the driver collects only the per-check count
    * rows (bounded by the number of checks, never by data size). */
  def commitAudited(spark: SparkSession, root: String, df: DataFrame,
      checks: Seq[graft.operators.Audit.RowCheck],
      uniqueKeyCols: Option[Seq[String]] = None,
      lockTtlMs: Long = DefaultLockTtlMs): Long =
    commit(spark, root, df, lockTtlMs, audit = Some { staged =>
      val rowReport = graft.operators.Audit.rowChecks(staged, checks)
      val full = uniqueKeyCols.fold(rowReport)(keys =>
        rowReport.unionByName(
          graft.operators.Audit.uniqueKey(staged, keys, "unique_key")))
      val bad = full.collect()
        .map(r => (r.getString(0), r.getLong(1))).filter(_._2 > 0L).toSeq
      if (bad.nonEmpty) throw new WapAuditException(bad)
    })

  /** Publish an ALREADY-STAGED snapshot directory as the next version.
    *
    * [[publishVersion]] for callers whose data plane is not a
    * DataFrame handed to the driver — specifically the connector's V2
    * row-level writes ([[graft.sources.v2.GraftReplaceBatchWrite]]),
    * where EXECUTORS write the replacement snapshot through Spark's
    * builtin parquet `FileBatchWrite` into a private dot-prefixed dir
    * under `root`, and only then does the driver publish it. At 100 TB
    * this split is the only shape that works: the publish step moves
    * metadata (directory renames + pointer swap), never data.
    *
    * The staging write happens before the lease — safe because the
    * staged dir is caller-private (dot-prefixed: invisible to
    * [[completeSnapshots]] and to readers); under the lease it is
    * renamed into the protocol's own staging dir. `expectedCurrent`
    * MUST carry the version the staged data was derived from: a
    * row-level write is always a read-modify-write, and publishing
    * over an interleaved commit would silently drop its rows — the
    * fence aborts loudly instead.
    *
    * The staged dir must carry `_SUCCESS` (the V2 file committer
    * writes it at job commit) — publishing a half-written snapshot is
    * refused. On ANY failure the staged dir is deleted: the caller's
    * write is already job-committed by the time this runs, so there is
    * nothing left to hand back. */
  def publishStaged(spark: SparkSession, root: String, stagedDir: String,
      expectedCurrent: Option[Option[Long]] = None,
      lockTtlMs: Long = DefaultLockTtlMs): Long = {
    val fs = Ingest.fs(spark, root)
    val staged = new Path(stagedDir)
    require(staged.getParent == new Path(root) &&
      staged.getName.startsWith("."),
      s"graft: staged snapshot must be a dot-prefixed dir directly under" +
        s" $root, got $stagedDir")
    try {
      require(fs.exists(new Path(staged, "_SUCCESS")),
        s"graft: staged snapshot $stagedDir has no _SUCCESS marker —" +
          " refusing to publish a half-written directory")
      publishVersion(spark, root, lockTtlMs, expectedCurrent,
          op = "publish") { (stage, _) =>
        if (!fs.rename(staged, stage))
          throw new IllegalStateException(
            s"publish failed: could not rename $staged to $stage")
      }
    } catch {
      case t: Throwable =>
        try fs.delete(staged, true) catch { case _: java.io.IOException => () }
        throw t
    }
  }

  /** Bucketed variant: commit the snapshot as a catalog table bucketed
    * + sorted on the merge key. A bucketed target joins updates
    * without re-shuffling the big side — Spark shuffles only the
    * (small) update batch into the target's bucketing, which is the
    * difference between moving a daily batch and moving 100 TB every
    * merge. Catalog metadata is session-scoped with the in-memory
    * catalog (no Hive offline); a cluster deployment points
    * `spark.sql.warehouse.dir` + a metastore at durable storage. */
  def commitBucketed(spark: SparkSession, table: String, df: DataFrame,
      nBuckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, CocoaSchema.mergeKey)
      .sortBy(CocoaSchema.mergeKey)
      .format("parquet")
      .saveAsTable(table)

  /** CDC: the row-level change set between two committed snapshots of
    * the SAME warehouse — the incremental-processing primitive the
    * versioned commit protocol makes possible. The reference's
    * consumers re-read the whole Postgres table every dashboard
    * refresh (`README.md:146-151`); at 100 TB a downstream consumer
    * must instead process |Δ| rows, and this derives Δ from any two
    * retained versions ([[vacuum]]'s `keepLast`/`minAgeMs` floor is
    * what guarantees `fromVersion` is still readable).
    *
    * Both snapshots are read under the CURRENT schema (additive
    * evolution: a column added after `fromVersion` reads as null
    * there, so its arrival surfaces as an `update`). See
    * [[diffFrames]] for semantics and the scale shape. */
  def diff(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String] = Seq(CocoaSchema.mergeKey),
      schema: org.apache.spark.sql.types.StructType = CocoaSchema.warehouse): DataFrame = {
    // the caller's names are CURRENT-era logical names — both sides
    // translate their rename chains up to the table's present
    val era = currentVersion(spark, root)
    diffFrames(liveEraSnap(snapshot(spark, root, fromVersion), schema, eraOf = era),
      liveEraSnap(snapshot(spark, root, toVersion), schema, eraOf = era), keyCols)
  }

  /** The rename maps in force between `lo`'s version and `hi`, oldest
    * first — one (composed) map per [[Snapshot.eraKey]] run that
    * carries one (see [[Snapshot.eraL2P]] for why the grouping is by
    * era run). A MANIFEST chain is ONE era regardless of version dirs:
    * per-version dirs must not multiply the fold (a swap rename folded
    * twice is the identity). */
  private def eraMaps(lo: Snapshot, hi: Long): Seq[Map[String, String]] = {
    val runs = scala.collection.mutable.ArrayBuffer.empty[
      (String, Map[String, String])]
    (lo.version to hi).foreach { x =>
      val s = if (x == lo.version) lo else snapshot(lo.spark, lo.root, x)
      runs.lastOption match {
        case Some((pd, _)) if pd == s.eraKey =>
          if (s.p2l.nonEmpty) runs(runs.size - 1) = (s.eraKey, s.p2l)
        case _ => runs += ((s.eraKey, s.p2l))
      }
    }
    runs.map(_._2).filter(_.nonEmpty).toSeq
  }

  /** Version `s` read under the `eraOf`-era LOGICAL schema — the read
    * every cross-version comparison must use:
    *  - the rename-map CHAIN between `s` and `eraOf` translated
    *    ([[Snapshot.eraL2P]]; files read under their PHYSICAL names,
    *    the caller's names come out — a direct explicit-schema read
    *    across a rename silently NULL-FILLS the renamed columns);
    *  - translation VALIDATED by the rename-era guard
    *    ([[Snapshot.eraBreak]], one driver-side footer read), so an
    *    untranslatable column — e.g. a vacuumed intermediate rename
    *    version whose map is gone — fails loudly instead of
    *    null-filling;
    *  - deletion vectors applied when `applyDvs` (diffs of LIVE
    *    states) or left in place when not ([[publishChangeFeed]]'s
    *    determinism, [[mergeBranch]]'s base sides).
    * Shared by [[diff]], [[publishChangeFeed]], [[mergeBranch]] and
    * [[readVersionLive]]. */
  private def liveEraSnap(s: Snapshot, schema: StructType,
      applyDvs: Boolean = true, eraOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val l2p = s.eraL2P(eraOf.getOrElse(s.version), schema.fieldNames.toSeq)
    val phys = StructType(schema.fields.map(f =>
      f.copy(name = l2p.getOrElse(f.name, f.name))))
    s.eraBreak(phys.fieldNames.toSeq).foreach { case (missing, _) =>
      throw new IllegalStateException(
        s"liveEraSnap: version v${s.version} of ${s.root} has no column(s)" +
          s" ${missing.mkString(", ")} under era-v${eraOf.getOrElse(s.version)}" +
          " logical names — rename chain untranslatable (vacuumed rename" +
          " version?) or the caller's schema is from a different era")
    }
    // manifest or plain, the read resolves the version's own file set;
    // applyDvs=false callers skip the vectors (feed purity)
    val live = if (applyDvs) readLive(s, phys) else s.frame(phys)
    // normalize to DECLARED order even with no rename map: a
    // hive-partitioned dir read surfaces partition columns appended
    // last, and a feed diff against a declared-order side would
    // refuse (column sets equal, orders not)
    live.select(schema.fieldNames.toSeq
      .map(n => col(s"`${l2p.getOrElse(n, n)}`").as(n)): _*)
  }

  /** Classify every key as `insert` (new side only), `delete` (old
    * side only) or `update` (present in both with ANY column changed,
    * null-safely — audit columns like `processed_at` count: a re-land
    * that only touched the stamp IS a change event), dropping
    * unchanged rows. Inserts/updates carry the NEW row, deletes the
    * OLD one, plus a `change_type` column.
    *
    * Scale shape: ONE full-outer sort-merge join keyed on `keyCols` —
    * each side shuffles once on the key and the non-key payload rides
    * as a single struct compared null-safely (`<=>`, codegen'd), so
    * the change test adds no per-column join width. On a
    * [[commitBucketed]] table both sides are already bucketed on the
    * key and the join plans with NO exchange at all. */
  def diffFrames(from: DataFrame, to: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val dataCols = to.columns.toSeq.filterNot(keyCols.contains)
    diffImages(from, to, keyCols)
      .withColumn("__row", coalesce(col("new_image"), col("old_image")))
      .select(keyCols.map(col) ++
        dataCols.map(c => col(s"__row.`$c`").as(c)) :+ col("change_type"): _*)
  }

  /** Path of version `v`'s PERSISTED change feed. Lives under an
    * underscore-prefixed dir, so snapshot readers (Hadoop's hidden-
    * path filter) never see feed files as table data. */
  def changePath(root: String, v: Long): String = s"$root/_changes/v$v"

  /** Materialize version `v`'s change feed (the [[diffImages]] rows
    * for the v-1 → v transition) as a durable artifact — Delta's
    * change-data-feed made explicit. Consumers ([[graft.operators.
    * IncrementalAgg]], downstream sync jobs) read the STORED feed:
    * the two-snapshot diff is computed once, at publish time, instead
    * of once per consumer — at 100 TB that is the difference between
    * one maintenance pass and every consumer rescanning two full
    * snapshots.
    *
    * Idempotent without a lease: both input snapshots are immutable,
    * so the feed is a pure function of (root, v) — any two publishers
    * derive identical content, the atomic no-overwrite rename picks
    * one winner, and the loser just discards its staging dir. A crash
    * mid-publish leaves an incomplete dir with no `_SUCCESS`, which
    * the next publisher clears and rewrites. `keepLast` vacuuming
    * governs how far back `v-1` stays readable — publish feeds before
    * the retention floor passes the transition. */
  def publishChangeFeed(spark: SparkSession, root: String, v: Long,
      keyCols: Seq[String] = Seq(CocoaSchema.mergeKey),
      schema: org.apache.spark.sql.types.StructType = CocoaSchema.warehouse): String = {
    require(v >= 1, s"change feed needs a predecessor; got v$v")
    val fs = Ingest.fs(spark, root)
    val target = new Path(changePath(root, v))
    def complete = fs.exists(new Path(target, "_SUCCESS"))
    if (complete) return target.toString
    // ERA-AWARE version read ([[liveEraSnap]]): rename maps translated
    // (a direct explicit-schema read of a renamed version silently
    // NULL-FILLS the renamed columns into the feed images) — but
    // deletion vectors NOT applied, on BOTH sides. The feed must be a
    // pure function of (root, v) (the idempotency contract above), and
    // in-place DVs mutate a version AFTER its feed may have been
    // published: applying them here makes the content depend on WHEN
    // the publisher ran, and — worse — swallows the delete transition
    // entirely (old side v-1 read DV-applied lacks the doomed rows, so
    // no feed ever emits them as deletes; a consumer replica keeps rows
    // the table deleted). Pre-DV on both sides keeps consecutive feeds
    // composable (feed v's new side == feed v+1's old side) and the
    // DV deletes surface in the NEXT data commit's feed, whose new
    // side genuinely lacks the rows.
    // eraOf = v, NOT currentVersion: the feed is a persisted artifact
    // whose content must not depend on renames that happen after its
    // version — a late (crash-recovery) re-publish must produce the
    // byte-same feed the original would have.
    val to = snapshot(spark, root, v)
    val from = snapshot(spark, root, v - 1)
    def snap(x: Snapshot) =
      liveEraSnap(x, schema, applyDvs = false, eraOf = Some(v))
    val stage = new Path(
      s"$root/_changes/.v${v}_${java.util.UUID.randomUUID().toString}")
    // METADATA-ONLY versions (rename/clone pointers resolving to the
    // predecessor's data dir) changed no rows: their feed is EMPTY by
    // construction — publish it as such so CDC consumers advance past
    // the version instead of stalling at a feed gap.
    val metadataOnly = to.dataDir == from.dataDir
    // O(Δ) FAST PATH for a MANIFEST APPEND: when v's manifest carries
    // every one of v-1's files by reference (pure append — nothing
    // rewritten or removed), the feed is computable from the NEW files
    // alone plus one key-filtered probe of the old side: appended rows
    // whose key is fresh surface as inserts, re-appearing keys as
    // updates against their old image, and deletes are impossible by
    // construction. Equal to the full two-snapshot diff under the
    // feed's own unique-key invariant (spec-pinned), but costs one
    // read of the DELTA + one broadcast-semi probe instead of two
    // full-snapshot scans and a full-width shuffle join.
    def manifestAppendFeed: Option[DataFrame] =
      to.manifest.flatMap { toLines =>
        import org.apache.spark.sql.functions.{broadcast, col}
        def paths(lines: Seq[String]) = lines.map(_.split("\t", 2).head).toSet
        val toPaths = paths(toLines)
        // a plain v-1 lists its dir (the zero-copy conversion); a
        // clone's files keep absolute paths, never a subset
        val fromPaths: Option[Set[String]] = from.manifest.map(paths)
          .orElse(scala.util.Try(paths(from.files.map(_.line))).toOption)
        fromPaths.filter(_.subsetOf(toPaths)).map { old =>
          val newRel = (toPaths -- old).toSeq.sorted
          if (newRel.isEmpty) diffImages(snap(to), snap(to), keyCols).limit(0)
          else {
            // index-backed delta read: partition columns resolve from
            // the path fragments (a raw file read would null-fill
            // them into the feed images on a partitioned manifest),
            // and a carried rename map reads PHYSICAL then surfaces
            // the feed's era-v LOGICAL names (a logical-schema'd read
            // would null-fill every renamed column)
            val l2p = to.l2p
            val physSchema = StructType(schema.fields.map(f =>
              f.copy(name = l2p.getOrElse(f.name, f.name))))
            val newRows0 = to.filesFrame(newRel.toSet, physSchema)
            val newRows =
              if (l2p.isEmpty) newRows0
              else newRows0.select(schema.fieldNames.toSeq.map(n =>
                col(s"`${l2p.getOrElse(n, n)}`").as(n)): _*)
            val oldSide = snap(from).join(
              broadcast(newRows.select(keyCols.map(col): _*).distinct()),
              keyCols, "left_semi")
            diffImages(oldSide, newRows, keyCols)
          }
        }
      }
    val feed =
      if (metadataOnly) diffImages(snap(to), snap(to), keyCols).limit(0)
      else manifestAppendFeed.getOrElse(
        diffImages(snap(from), snap(to), keyCols))
    feed.write.mode("overwrite").parquet(stage.toString)
    if (complete) { fs.delete(stage, true); return target.toString }
    if (fs.exists(target)) fs.delete(target, true) // incomplete orphan
    if (!fs.rename(stage, target)) fs.delete(stage, true) // racer won
    require(fs.exists(new Path(target, "_SUCCESS")),
      s"change feed publish failed for $target")
    target.toString
  }

  /** Read version `v`'s stored change feed; loud when it was never
    * published (or only partially) — a missing feed must never read
    * as "no changes". */
  def readChangeFeed(spark: SparkSession, root: String, v: Long): DataFrame = {
    val p = changePath(root, v)
    val fs = Ingest.fs(spark, root)
    require(fs.exists(new Path(p, "_SUCCESS")),
      s"no complete change feed at $p — publishChangeFeed(v=$v) first")
    spark.read.parquet(p)
  }

  /** CDC with FULL pre/post images: [[diffFrames]]'s classification,
    * but each change row keeps BOTH sides — `old_image` (null for
    * inserts) and `new_image` (null for deletes) as structs of the
    * non-key columns, alongside the keys and `change_type`. This is
    * the change-feed shape incremental consumers that must RETRACT
    * need (a maintained aggregate subtracts the pre-image and adds
    * the post-image; a single-image feed cannot express "this row's
    * group moved"). Same one-join scale shape as [[diffFrames]] —
    * the images are the join's own packed structs, so keeping both
    * costs no extra exchange or width. */
  def diffImages(from: DataFrame, to: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "diff needs at least one key column")
    require(from.columns.sameElements(to.columns),
      s"diff expects both snapshots read under one schema, got" +
        s" [${from.columns.mkString(",")}] vs [${to.columns.mkString(",")}]")
    val dataCols = to.columns.toSeq.filterNot(keyCols.contains)
    def packed(df: DataFrame, as: String) =
      df.select(keyCols.map(col) :+ struct(dataCols.map(col): _*).as(as): _*)
    packed(from, "old_image").join(packed(to, "new_image"), keyCols, "full_outer")
      .filter(!(col("old_image") <=> col("new_image")))
      .withColumn("change_type",
        when(col("old_image").isNull, lit("insert"))
          .when(col("new_image").isNull, lit("delete"))
          .otherwise(lit("update")))
  }

  /** RESTORE: make an earlier retained snapshot the table's current
    * content again — as a NEW commit, never by moving the pointer
    * backwards (Delta's RESTORE semantics). Rolling the pointer back
    * would fork history: version numbers already handed to readers
    * and change feeds would be reused with different content. As a
    * forward commit, the restore itself is auditable ([[diff]] shows
    * exactly what it undid), the bad version stays time-travelable
    * for the post-mortem, and the read-modify-write fence aborts if
    * anything commits between resolving the current version and the
    * lease. Restoring the current version is a loud no-op request.
    * The restored snapshot is read DV-applied ([[readWithDv]]'s
    * rule): what you restore is what a reader of that version saw. */
  def restore(spark: SparkSession, root: String, toVersion: Long,
      schema: org.apache.spark.sql.types.StructType = CocoaSchema.warehouse,
      lockTtlMs: Long = DefaultLockTtlMs): Long = {
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"restore: no committed snapshot under $root"))
    require(toVersion != cur,
      s"restore: v$toVersion is already the current version")
    val s = snapshot(spark, root, toVersion)
    if (!s.complete)
      throw new IllegalStateException(
        s"restore: no complete snapshot v$toVersion under $root" +
          " (vacuumed past the retention floor?)")
    // MANIFEST versions restore through the file-list read, their
    // vectors keyed root-relative ([[withPos]]) — a raw dir read would
    // silently drop every carried-by-reference row and COMMIT the
    // partial result as the new current version
    commit(spark, root, readLive(s, schema), lockTtlMs,
      expectedCurrent = Some(Some(cur)))
  }

  // ------------------------------------------------------------------
  // Row-level DELETE via DELETION VECTORS (merge-on-read)
  // ------------------------------------------------------------------

  /** Directory holding the deletion vectors scoped to snapshot `v`. */
  def dvPath(root: String, v: Long): String = s"$root/_dv/v$v"

  private val dvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.LongType, nullable = false)))

  /** Version `s` with each row's PHYSICAL identity attached — the
    * (file, pos) row id deletion vectors address, so DV deletes need no
    * key column and work on keyless tables too:
    *  - `_dv_file`: a PLAIN version keys files RELATIVE to its data dir
    *    (stable across a snapshot-dir move, unlike the full URI, and
    *    unique where the bare NAME is not: a hive-partitioned write
    *    reuses the same `part-NNNNN-<jobUUID>` file name across
    *    partition directories; on flat snapshots the relative path IS
    *    the file name). A MANIFEST version keys them relative to the
    *    ROOT — its files span version dirs, so a data-dir-relative key
    *    cannot address them;
    *  - `_dv_pos`: the row's ordinal within its file, from the parquet
    *    reader's `_metadata.row_index`.
    * `_metadata.file_path` is the url-encoded URI ("file:/…",
    * partition segments like "region=Bono%20East") while the dir is a
    * raw path, so the key is cut at the LAST occurrence of the
    * slash-fenced dir segment ("/v<N>/" or "/<root>/"), which only
    * real directory boundaries can produce (partition segments are
    * always "k=v" with '/' hive-escaped) — never by a length count.
    * The key stays URL-ENCODED; [[graft.sources.v2.GraftDvScan]]
    * derives the identical key via SparkPath. */
  private def withPos(s: Snapshot, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    def fenced(dir: String) = "/" + dir.substring(dir.lastIndexOf('/') + 1) + "/"
    if (s.isManifest) {
      val fs = Ingest.fs(s.spark, s.root)
      val marker = fenced(fs.makeQualified(new Path(s.root)).toString.stripSuffix("/"))
      entriesFrame(s.spark, s, s.files, schema, withStats = true,
          withFilePath = true, withPos = true)
        .withColumn("_dv_file", substring_index(col("__file"), marker, -1))
        .withColumnRenamed("__pos", "_dv_pos")
        .drop("__file")
    } else {
      val dir = s.dataDir.stripSuffix("/")
      readData(s.spark, s.root, dir, schema, Seq(
        substring_index(col("_metadata.file_path"), fenced(dir), -1).as("_dv_file"),
        col("_metadata.row_index").as("_dv_pos")))
    }
  }

  /** The merge-on-read anti-join, written once: `pos` (a [[withPos]]
    * frame of `s`) minus the rows `dv` (`s`'s DV frame) addresses,
    * identity columns kept. The DV side is hinted broadcast while its
    * on-disk footprint ([[Snapshot.dvBytes]] — complete parts only,
    * one driver metadata listing, no job) stays under
    * `broadcastDvMaxBytes`, so the join adds NO shuffle of the data;
    * past the bound it plans as a regular shuffled anti join — correct
    * at any DV size, and [[applyDv]] is the maintenance valve either
    * way. */
  private def withoutDeleted(s: Snapshot, pos: DataFrame, dv: DataFrame,
      broadcastDvMaxBytes: Long = DvBroadcastMaxBytes): DataFrame = {
    val side =
      if (s.dvBytes <= broadcastDvMaxBytes) org.apache.spark.sql.functions.broadcast(dv)
      else dv
    pos.join(side,
      pos("_dv_file") === side("file") && pos("_dv_pos") === side("pos"),
      "left_anti")
  }

  private val DvBroadcastMaxBytes: Long = 32L * 1024 * 1024

  /** Version `s`'s LIVE rows under `schema`: its deletion vectors
    * applied when it has any ([[withoutDeleted]] over the
    * manifest-or-plain [[withPos]]), else the plain
    * [[Snapshot.frame]]. */
  private def readLive(s: Snapshot, schema: StructType,
      broadcastDvMaxBytes: Long = DvBroadcastMaxBytes): DataFrame =
    s.dvFrame match {
      case None => s.frame(schema)
      case Some(dv) =>
        withoutDeleted(s, withPos(s, schema), dv, broadcastDvMaxBytes)
          .drop("_dv_file", "_dv_pos")
    }

  /** Connector-visible DV introspection: the unioned (file, pos) frame
    * of snapshot `v`'s complete DV parts ([[Snapshot.dvFrame]]). */
  private[graft] def dvRows(spark: SparkSession, root: String,
      v: Long): Option[DataFrame] = snapshot(spark, root, v).dvFrame

  /** Row-level DELETE as a MERGE-ON-READ deletion vector — the
    * Delta/Iceberg v2 position-delete shape on plain parquet. Deleting
    * a handful of rows out of a 100 TB snapshot costs ONE predicate
    * scan (data-column filters still push down to parquet) plus a
    * KB-scale write of (file, pos) row ids under `_dv/v{n}/d_{uuid}` —
    * the data files are never rewritten and the snapshot stays
    * immutable (held readers and time travel are untouched; a
    * DV-unaware reader of `v{n}` sees the PRE-delete image, which is
    * exactly the time-travel contract).
    *
    * Concurrency: DV parts compose by SET UNION (deletes of disjoint
    * or overlapping row sets commute), so each call publishes its own
    * `d_{uuid}` dir — staged dot-prefixed, made visible by one atomic
    * rename, complete iff `_SUCCESS` exists — so concurrent DELETERS
    * need no lock at all. The predicate is evaluated against the LIVE
    * view (prior DVs applied), so re-running a delete is a no-op that
    * publishes an empty part.
    *
    * Deleter-vs-WRITER is the conflict that DOES need a fence: if a
    * [[commit]] or [[applyDv]] lands between the version resolution
    * above and the part publish, this delete attaches to the
    * now-superseded snapshot and its rows silently reappear in the
    * new current version — the classic lost update, which Delta
    * resolves with commit-time conflict detection. Same remedy here:
    * after publishing, re-read `currentVersion`; if it moved, RETRACT
    * the just-published part (it was never observable to a reader of
    * the new version — DVs are resolved per version) and fail loudly
    * with a retry instruction. The residual window after the re-check
    * is the writer's problem by construction: a commit that starts
    * after our publish either derives from a DV-applied read (sees
    * the delete) or is an independent overwrite whose fencing is
    * `commit(expectedCurrent)`'s contract.
    *
    * Returns the number of newly deleted rows (counted from the
    * KB-scale published part, never by rescanning data). */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      schema: org.apache.spark.sql.types.StructType = CocoaSchema.warehouse): Long = {
    import org.apache.spark.sql.functions._
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"deleteWhere: no committed snapshot under $root"))
    // MANIFEST versions compose (round 13): the DV key becomes the
    // ROOT-relative path (manifest files span version dirs) and the
    // base read plans through the manifest index — O(matched) deletes
    // with zero rewrite on top of O(Δ) DML, the Delta pairing. A
    // renamed chain refuses (the DV writer addresses physical names;
    // deleteWhereFiles translates, or applyDv/compact first).
    val s = snapshot(spark, root, v)
    if (s.isManifest) require(s.p2l.isEmpty,
      s"deleteWhere: $root v$v is a RENAMED manifest chain — merge-on-read" +
        " vectors address physical names; use deleteWhereFiles (translates)" +
        " or compact first")
    val base = withPos(s, schema)
    val live = s.dvFrame.fold(base)(withoutDeleted(s, base, _))
    val doomed = live.filter(predicate)
      .select(col("_dv_file").as("file"), col("_dv_pos").as("pos"))
    publishDvPart(spark, root, v, doomed)
  }

  /** Stage → rename → FENCE → count: the publish tail of
    * [[deleteWhere]], split out so the fence path is deterministically
    * testable (the spec hands it a `v` a concurrent commit has already
    * superseded — the exact interleaving the fence exists for). */
  private[pipeline] def publishDvPart(spark: SparkSession, root: String,
      v: Long, doomed: DataFrame): Long = {
    val fs = Ingest.fs(spark, root)
    val dvDir = new Path(dvPath(root, v))
    fs.mkdirs(dvDir)
    val id = java.util.UUID.randomUUID().toString.replace("-", "")
    val stage = new Path(dvDir, s".stage_d_$id")
    doomed.write.mode("overwrite").parquet(stage.toString)
    val target = new Path(dvDir, s"d_$id")
    if (!fs.rename(stage, target))
      throw new IllegalStateException(
        s"deleteWhere: could not publish deletion vector $target")
    // Read-modify-write fence (see scaladoc): a commit/applyDv that
    // landed since `v` was resolved makes this part a lost update —
    // retract it and fail instead of silently resurrecting the rows.
    val now = currentVersion(spark, root)
    if (now != Some(v)) {
      fs.delete(target, true)
      throw new java.util.ConcurrentModificationException(
        s"deleteWhere: version moved v$v -> ${now.fold("none")("v" + _)} " +
          "during the delete; the deletion vector was retracted — retry " +
          "against the new current version")
    }
    spark.read.schema(dvSchema).parquet(target.toString).count()
  }

  /** Read the current snapshot with its deletion vectors APPLIED — the
    * merge-on-read path: the big side streams straight off the parquet
    * scan, the DV side (KB-scale position lists) joins broadcast while
    * it stays under `broadcastDvMaxBytes` ([[withoutDeleted]]);
    * [[applyDv]] is the maintenance op that folds an overgrown DV set
    * back into a clean snapshot. */
  def readWithDv(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType = CocoaSchema.warehouse,
      broadcastDvMaxBytes: Long = DvBroadcastMaxBytes): DataFrame =
    currentVersion(spark, root) match {
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case Some(v) => readLive(snapshot(spark, root, v), schema, broadcastDvMaxBytes)
    }

  /** Fold the current snapshot's deletion vectors into a NEW committed
    * version (merge-on-read → copy-on-write): the rewrite [[deleteWhere]]
    * deferred, run once DVs grow past the point where the read-side
    * anti join earns its keep. Rides [[commit]] with read-modify-write
    * fencing (`expectedCurrent`), so an interleaved commit aborts this
    * application instead of being silently dropped. The new version
    * starts DV-free; the old version and ITS DVs remain readable until
    * [[vacuum]] ages them out. Returns the committed version, or None
    * when there is no snapshot or nothing to apply. */
  def applyDv(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType = CocoaSchema.warehouse,
      lockTtlMs: Long = DefaultLockTtlMs): Option[Long] =
    currentVersion(spark, root).flatMap { v =>
      val s = snapshot(spark, root, v)
      s.dvFrame.map { _ =>
        // a version carrying BOTH a rename map and vectors folds
        // through the era-aware live read (logical names come out
        // materialized, like compaction); the schema-parameterized
        // live read stays the unmapped path so declared/widened
        // schemas keep their null-fill semantics
        val live = if (s.p2l.isEmpty) readLive(s, schema) else liveOf(s)
        commit(spark, root, live, lockTtlMs, expectedCurrent = Some(Some(v)))
      }
    }

  /** COMPACTION: rewrite the current snapshot into ~`targetFileBytes`
    * files and commit the rewrite as a NEW version — the small-file
    * maintenance op every long-lived warehouse needs (a year of daily
    * upsert commits leaves thousands of files whose per-file open/
    * footer cost dominates scans). Compaction changes the physical
    * layout ONLY: the new version holds the identical row multiset
    * (p08 hash-certifies this through the cocoa oracle), and because
    * it rides [[commit]], it inherits the full lease/fencing protocol
    * and leaves prior versions untouched — time travel and held
    * readers survive, and [[vacuum]]'s retention floor governs when
    * the fragmented ancestors age out.
    *
    * The file-count target derives from the snapshot's ON-DISK bytes
    * (one driver-side metadata listing — bounded, no row data), so
    * output files land near the scan-optimal size regardless of row
    * width. The snapshot is the compaction unit here; a 100 TB
    * deployment partitions the table and compacts per partition with
    * exactly this routine. Returns the committed version, or None on
    * a never-committed warehouse. */
  def compact(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      lockTtlMs: Long = DefaultLockTtlMs): Option[Long] = {
    require(targetFileBytes >= 1L,
      s"targetFileBytes must be >= 1, got $targetFileBytes")
    currentVersion(spark, root).map { cur =>
      // resolve through the clone pointer: compacting a cloned root
      // reads the SOURCE data and publishes a real (materialized)
      // snapshot under this root — copy-on-write, source untouched
      // Compacting a MANIFEST chain folds it back into one plain
      // snapshot (the maintenance valve the manifest composition
      // contract names), exactly as compaction folds DVs and
      // materializes renames.
      val s = snapshot(spark, root, cur)
      val n = math.max(1L, (s.bytes + targetFileBytes - 1L) / targetFileBytes)
      // The snapshot's OWN parquet schema, never a fixed default: a
      // warehouse widened by additive evolution must come out of
      // compaction with every column it carries — a forced older
      // schema here would silently drop evolved columns' data. The
      // one footer-inference job is the price of layout-only safety.
      // LIVE read, not raw ([[readVersionLive]]): compacting a
      // DV-bearing version must FOLD the vectors (a raw read would
      // resurrect every deleted row into the compacted snapshot), and
      // compacting a renamed version must materialize the LOGICAL
      // names (a raw read would silently revert the rename). The
      // compacted version comes out DV-free and map-free — compaction
      // doubles as the merge-on-read maintenance valve.
      // expectedCurrent pins the read-modify-write: if any commit
      // lands between resolving `cur` and the lease, publishing would
      // drop it — commit() aborts instead (lost-update fencing).
      commit(spark, root, liveOf(s).repartition(n.toInt),
        lockTtlMs, expectedCurrent = Some(Some(cur)))
    }
  }

  /** PARTITION EVOLUTION — commit the next snapshot HIVE-PARTITIONED
    * on `partitionCols` while every earlier (flat or differently
    * partitioned) version stays readable as-is: the layout belongs to
    * the VERSION, exactly like the schema era and the rename map.
    * This is how a table's physical organization migrates without a
    * stop-the-world rewrite of history — commit N switches the
    * layout, time travel before N sees the old one, and maintenance
    * ops (compact/clustered-compact) read through partition discovery
    * transparently.
    *
    * At 100 TB the point is PRUNING: a predicate on a partition
    * column plans as `PartitionFilters` and skips whole directories
    * before any footer is opened — coarser but cheaper than the
    * zone-map sidecar (no index to maintain; the spec pins the plan
    * shape). Partition columns must exist in `df`; their values
    * become directory names (Spark's own hive-layout rules, nulls
    * included), and [[read]]'s explicit schema resolves them back by
    * name, so round-trip content is byte-identical — the io10 gate
    * hashes it. */
  def commitPartitioned(spark: SparkSession, root: String, df: DataFrame,
      partitionCols: Seq[String],
      lockTtlMs: Long = DefaultLockTtlMs,
      expectedCurrent: Option[Option[Long]] = None): Long = {
    require(partitionCols.nonEmpty, "commitPartitioned needs partition columns")
    val missing = partitionCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"partition columns absent from frame: $missing")
    commit(spark, root, df, lockTtlMs, expectedCurrent,
      partitionBy = partitionCols)
  }

  /** OPTIMIZE for MANIFEST tables — the mechanism that BOUNDS manifest
    * metadata growth (Delta OPTIMIZE's shape): bin-packs every data
    * file smaller than `smallFileBytes` into ~`targetFileBytes` files
    * and publishes a manifest version that rewrites ONLY those small
    * files — every already-right-sized file rides by reference, the
    * rename map and partitioning carry, and the table STAYS in
    * manifest mode (compact, the other valve, folds to a plain
    * snapshot and gives up O(Δ) DML).
    *
    * Why this is the scaling answer: a high-churn append stream
    * accumulates O(commits) small files, and manifest text grows
    * ~0.5 KB per file (PLANS.md round-12 §11) — at a million files
    * the driver-side manifest parse is a few hundred MB. Periodic
    * optimizeFiles folds the file count (hence the manifest length)
    * back to O(tableBytes / targetFileBytes), which for any sane
    * target keeps the manifest in the low MBs at 100 TB. Commits past
    * [[WarnManifestFiles]] also log a loud pointer here.
    *
    * Returns the new version, or None when there is nothing worth
    * packing (fewer than `minInputFiles` small files). */
  def optimizeFiles(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      smallFileBytes: Long = 64L * 1024 * 1024,
      minInputFiles: Int = 2,
      lockTtlMs: Long = DefaultLockTtlMs): Option[Long] = {
    require(targetFileBytes >= 1 && smallFileBytes >= 1,
      "optimizeFiles: byte thresholds must be positive")
    val h = commitHead(spark, root).getOrElse(
      throw new IllegalStateException(
        s"optimizeFiles: no committed snapshot under $root"))
    val (small, big) = h.files.partition(_.size < smallFileBytes)
    if (small.size < minInputFiles) return None
    val n = math.max(1L,
      (small.map(_.size).sum + targetFileBytes - 1L) / targetFileBytes).toInt
    Some(publishManifest(spark, root, Some(h), big, h.schema, h.parts,
        lockTtlMs) {
      val rows = logicalFiles(spark, h, small, h.schema)
      // partitioned tables CLUSTER the pack by the partition columns:
      // a round-robin repartition(n) would spray every partition's
      // rows across all n tasks and the dynamic write would emit up
      // to n × P files — GROWING the manifest this op exists to fold.
      // Hash-clustering keeps each partition's rows in one task ⇒
      // ~one packed file per partition dir (a single giant partition
      // value can exceed the target; hive dirs cannot merge anyway).
      if (h.parts.isEmpty) rows.repartition(n)
      else rows.repartition(n, h.parts.map(p =>
        org.apache.spark.sql.functions.col(s"`${h.p2l.getOrElse(p, p)}`")): _*)
    })
  }

  /** CLUSTERED COMPACTION — [[compact]]'s layout rewrite upgraded to
    * the full maintenance op a 100 TB table actually schedules
    * (Delta's `OPTIMIZE ... ZORDER BY`): the snapshot is rewritten
    * Z-ORDERED on two query columns (range-partitioned on the Morton
    * interleave, sorted within files — [[graft.operators.Zorder
    * .cluster]]) and the published version immediately gets a
    * [[graft.sources.ZoneMap]] sidecar over those columns. Content is
    * byte-identical (layout only — the p18 gate hashes it against the
    * pre-compaction oracle); what changes is SELECTIVITY: on a
    * z-clustered layout each file covers a narrow (colA, colB)
    * rectangle, so the zone map prunes range scans to a handful of
    * files where the unclustered layout reads all of them (measured
    * in RenameSpec's sibling ClusteredCompactionSpec). Same
    * read-modify-write fencing as [[compact]]; the zone map is built
    * AFTER publish, so a reader between publish and index lands on
    * the plain (index-less) path, never a stale index (build is
    * create-only; [[graft.sources.ZoneMap.refresh]] maintains it
    * across appends). */
  def compactClustered(spark: SparkSession, root: String,
      colA: String, colB: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      lockTtlMs: Long = DefaultLockTtlMs): Option[Long] = {
    require(targetFileBytes >= 1L,
      s"targetFileBytes must be >= 1, got $targetFileBytes")
    currentVersion(spark, root).map { cur =>
      val s = snapshot(spark, root, cur)
      val n = math.max(1L, (s.bytes + targetFileBytes - 1L) / targetFileBytes)
      // LIVE read — same contract as [[compact]]: fold deletion
      // vectors, materialize logical names (the cluster columns are
      // logical names too), fold manifests into one plain snapshot.
      val df = liveOf(s)
      val v = commit(spark, root,
        graft.operators.Zorder.cluster(df, colA, colB, n.toInt),
        lockTtlMs, expectedCurrent = Some(Some(cur)))
      // a fresh commit is always its own data dir
      graft.sources.ZoneMap.build(spark, versionPath(root, v),
        df.schema, Seq(colA, colB))
      v
    }
  }

  /** THREE-WAY BRANCH MERGE — the table analogue of a VCS merge,
    * closing the loop [[cloneShallow]] opens: fork a table (zero-copy
    * clone), let BOTH sides commit independently, then fold the
    * branch's changes back into main. The first merge's base is the
    * fork point — the branch's v0 clone snapshot (the documented
    * contract: merge a branch that was born as a clone, read through
    * [[dataPath]] so the pointer resolves); subsequent merges use the
    * ADVANCED per-side bases recorded in `_MERGE_BASE` (see RE-MERGE
    * below). The merge applies the branch's key-level delta (inserts
    * / updates / deletes vs its base) onto main's CURRENT snapshot.
    *
    * Conflict rule, CORRECT-OR-LOUD: a key BOTH sides changed since
    * the fork is a conflict unless both made the IDENTICAL change
    * (null-safe image compare — convergent edits merge clean, the way
    * two identical cherry-picks do); any real conflict aborts with a
    * sample of the keys before anything publishes. No silent
    * last-writer policy here by design — a policy merge is what
    * [[Merge.upsert]] already does; the value of a VCS-style merge is
    * that divergence is SURFACED.
    *
    * RE-MERGE (the merge base ADVANCES): a successful merge records
    * `(branchV, mergedMainV)` in the branch root's `_MERGE_BASE`
    * marker, and the NEXT merge diffs each side against its own
    * recorded base — the branch against its state at the last merge,
    * main against the merge commit — exactly git's common-ancestor
    * advance. So fork → diverge → merge → diverge again → merge again
    * works, with already-merged keys never re-litigated. Crash
    * contract: the base write happens AFTER the merge commit
    * publishes; a crash between the two leaves the old base, and the
    * next merge re-derives the already-merged keys on BOTH sides —
    * convergent (identical images) when the branch didn't touch them
    * again, a loud (conservative, never silent) conflict when it did.
    * Retention note: the recorded base snapshots must outlive the
    * branch — vacuum past them and the next merge fails loudly in
    * [[dataPath]], same rule clones already impose on their source.
    *
    * Scale shape: two snapshot diffs (one full-outer join each, the
    * [[diffImages]] single-struct-compare shape), one broadcast-able
    * conflict intersection on the key, and one apply join — all keyed
    * on the merge key; on bucketed layouts every one of them is
    * exchange-free. Commits with `expectedCurrent` fencing, so a main
    * commit interleaving with the merge aborts it rather than being
    * overwritten. Returns the committed version. */
  def mergeBranch(spark: SparkSession, mainRoot: String, branchRoot: String,
      keyCols: Seq[String] = Seq(CocoaSchema.mergeKey),
      schema: org.apache.spark.sql.types.StructType = CocoaSchema.warehouse,
      lockTtlMs: Long = DefaultLockTtlMs,
      maxConflictsShown: Int = 20): Long = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "mergeBranch needs at least one key column")
    val mainV = currentVersion(spark, mainRoot).getOrElse(
      throw new IllegalStateException(
        s"mergeBranch: no committed snapshot under $mainRoot"))
    val branchV = currentVersion(spark, branchRoot).getOrElse(
      throw new IllegalStateException(
        s"mergeBranch: no committed snapshot under $branchRoot"))
    // era-aware snaps ([[liveEraSnap]]): each side merges its LOGICAL
    // rows (a raw read of a renamed version would null-fill the
    // renamed columns into the delta). DV application is ASYMMETRIC
    // by design: the CURRENT sides read LIVE (an in-place DV delete
    // must propagate as a delete), the BASE sides read PRE-DV (in-
    // place vectors mutate the base version retroactively; applying
    // them to the base too would erase the very delta they created —
    // and a delete re-surfaced from an older base re-applies
    // idempotently, it can never resurrect a row).
    // eraOf = the SIDE's current version: each root translates its own
    // rename chain up to its present, so a fork-point (pre-rename)
    // base reads correctly under the caller's current names.
    def sideEra(root: String) = currentVersion(spark, root)
    def snap(root: String, v: Long) =
      liveEraSnap(snapshot(spark, root, v), schema, eraOf = sideEra(root))
        .select(schema.fieldNames.map(col).toSeq: _*)
    def snapBase(root: String, v: Long) =
      liveEraSnap(snapshot(spark, root, v), schema, applyDvs = false,
          eraOf = sideEra(root))
        .select(schema.fieldNames.map(col).toSeq: _*)
    // merge base: per side. First merge diffs both sides against the
    // fork point (the branch's v0 — its clone of main at fork time);
    // after a merge the recorded base advances (branch → its state at
    // that merge, main → the merge commit), so re-merge never
    // re-litigates already-merged keys.
    val branchFs = Ingest.fs(spark, branchRoot)
    val recordedBase = readMergeBase(branchFs, branchRoot)
    // the recorded base names the MAIN ROOT it was recorded against:
    // a version number alone would silently resolve against an
    // unrelated table if the same branch were later merged into a
    // different target (its v6 is not our v6) — that must be loud
    recordedBase.foreach { case (_, _, recordedRoot) =>
      val here = qualifiedRoot(spark, mainRoot)
      if (recordedRoot != here)
        throw new IllegalStateException(
          s"mergeBranch: $branchRoot's recorded merge base points at" +
            s" $recordedRoot, not $here — a branch tracks ONE upstream;" +
            s" remove $branchRoot/$mergeBaseFile to re-baseline against" +
            " the fork point deliberately")
    }
    val baseBranch = recordedBase match {
      case Some((bv, _, _)) => snapBase(branchRoot, bv)
      case None => snapBase(branchRoot, 0L)
    }
    val baseMain = recordedBase match {
      case Some((_, mv, _)) => snapBase(mainRoot, mv)
      case None => snapBase(branchRoot, 0L)
    }
    val dBranch = diffImages(baseBranch, snap(branchRoot, branchV), keyCols)
      .select(keyCols.map(col) :+ col("new_image").as("b_img") :+
        col("change_type").as("b_type"): _*)
    val dMain = diffImages(baseMain, snap(mainRoot, mainV), keyCols)
      .select(keyCols.map(col) :+ col("new_image").as("m_img"): _*)
    val conflicts = dBranch.join(dMain, keyCols)
      .filter(!(col("b_img") <=> col("m_img"))) // identical edits converge
      .select(keyCols.map(col): _*)
    val sample = conflicts.limit(maxConflictsShown + 1).collect()
    if (sample.nonEmpty)
      throw new IllegalStateException(
        s"mergeBranch: ${if (sample.length > maxConflictsShown) "more than " else ""}" +
          s"${math.min(sample.length, maxConflictsShown)} key(s) changed on BOTH" +
          s" sides since the fork with different images — resolve before merging." +
          s" Sample: ${sample.take(maxConflictsShown).mkString(", ")}")
    val dataCols = schema.fieldNames.toSeq.filterNot(keyCols.contains)
    val survivors = snap(mainRoot, mainV)
      .join(dBranch.select(keyCols.map(col): _*), keyCols, "left_anti")
    val applied = dBranch.filter(col("b_type") =!= "delete")
      .select(keyCols.map(col) ++
        dataCols.map(c => col(s"b_img.`$c`").as(c)): _*)
    val merged = commit(spark, mainRoot, survivors.unionByName(applied),
      lockTtlMs, expectedCurrent = Some(Some(mainV)))
    // advance the merge base AFTER the commit published (crash between
    // the two re-derives already-merged keys next time — convergent or
    // loud, never silent; see the RE-MERGE doc block above)
    writeMergeBase(branchFs, branchRoot, branchV, merged,
      qualifiedRoot(spark, mainRoot))
    merged
  }

  /** Marker recording a branch's merge base:
    * `<branchV>\t<mainV>\t<mainRoot>` — the branch version folded by
    * the last successful [[mergeBranch]], the main version that merge
    * committed, and the QUALIFIED main root it was recorded against
    * (so a later merge into a different target can never silently
    * diff against an unrelated table's same-numbered snapshot). Lives
    * in the BRANCH root (the branch owns its relationship to its
    * upstream, as a git branch does its upstream tracking ref). */
  private val mergeBaseFile = "_MERGE_BASE"

  /** Filesystem-qualified form of a root path — the stable identity
    * the merge-base marker stores and compares (raw strings differ on
    * relative vs absolute vs scheme-carrying spellings). */
  private def qualifiedRoot(spark: SparkSession, root: String): String = {
    val p = new Path(root)
    Ingest.fs(spark, root).makeQualified(p).toString
  }

  private def readMergeBase(fs: FileSystem, branchRoot: String)
      : Option[(Long, Long, String)] = {
    val p = new Path(branchRoot, mergeBaseFile)
    if (!fs.exists(p)) None
    else {
      val txt = readText(fs, p).trim
      txt.split("\t", 3) match {
        case Array(bv, mv, root) => Some((bv.toLong, mv.toLong, root))
        case _ => throw new IllegalStateException(
          s"corrupt $mergeBaseFile under $branchRoot: '$txt' — expected" +
            " '<branchV>\\t<mainV>\\t<mainRoot>'; remove it to fall back" +
            " to the fork base")
      }
    }
  }

  private def writeMergeBase(fs: FileSystem, branchRoot: String,
      branchV: Long, mainV: Long, mainRoot: String): Unit =
    replaceText(fs, new Path(branchRoot), mergeBaseFile,
      s"$branchV\t$mainV\t$mainRoot")

  /** CONSISTENT SNAPSHOT GROUPS — a cross-table read boundary on
    * plain files: one atomic pointer pinning a (table → version) set
    * that CO-EXISTED at publish time, so a multi-table consumer (a
    * dashboard joining facts to a maintained aggregate, a training
    * job reading corpus + index + stats) never observes table A's
    * new commit next to table B's old one. Individual tables keep
    * committing freely; the GROUP only advances when republished —
    * the cross-table analogue of a version tag, giving readers
    * repeatable multi-table reads without any cross-root locking
    * (member versions are immutable snapshots; the group file is one
    * atomic rename).
    *
    * Publication is [[publishVersion]] on the group dir. Members are
    * resolved to their CURRENT versions at publish;
    * [[readGroupMember]] reads the PINNED version and fails loudly if
    * retention has pruned it ([[vacuum]]'s keepLast must cover live
    * groups — the same operational rule shallow clones document). */
  def publishSnapshotGroup(spark: SparkSession, groupDir: String,
      members: Map[String, String],
      lockTtlMs: Long = DefaultLockTtlMs): Long = {
    require(members.nonEmpty, "snapshot group needs at least one member")
    val resolved: Seq[(String, String, Long)] = members.toSeq.sorted.map {
      case (name, root) =>
        val v = currentVersion(spark, root).getOrElse(
          throw new IllegalStateException(
            s"snapshot group member '$name' has no committed snapshot under $root"))
        (name, root, v)
    }
    val fs = Ingest.fs(spark, groupDir)
    publishVersion(spark, groupDir, lockTtlMs, expectedCurrent = None,
        op = "snapshot group") { (stage, _) =>
      writeText(fs, new Path(stage, "_MEMBERS"),
        resolved.map { case (n, r, v) => s"$n\t$r\t$v" }.mkString("\n"))
      fs.create(new Path(stage, "_SUCCESS"), true).close()
    }
  }

  /** The CURRENT group's pinned (name → (root, version)) map; loud on
    * a never-published group. */
  def snapshotGroupMembers(spark: SparkSession,
      groupDir: String): Map[String, (String, Long)] = {
    val fs = Ingest.fs(spark, groupDir)
    val v = currentVersion(spark, groupDir).getOrElse(
      throw new IllegalStateException(
        s"no published snapshot group under $groupDir"))
    readText(fs, new Path(versionPath(groupDir, v), "_MEMBERS"))
      .linesIterator.filter(_.nonEmpty).map { line =>
        val Array(name, root, ver) = line.split("\t", 3)
        name -> (root, ver.toLong)
      }.toMap
  }

  /** Read one member THROUGH the group's pin — the version the group
    * froze, not the member's current one. Loud (named error, never an
    * empty frame) when retention pruned the pinned snapshot. */
  def readGroupMember(spark: SparkSession, groupDir: String, name: String,
      schema: org.apache.spark.sql.types.StructType = CocoaSchema.warehouse): DataFrame = {
    val (root, v) = snapshotGroupMembers(spark, groupDir).getOrElse(name,
      throw new IllegalArgumentException(
        s"snapshot group $groupDir has no member '$name'"))
    val s = snapshot(spark, root, v)
    if (!s.complete)
      throw new IllegalStateException(
        s"snapshot group $groupDir pins $name at $root v$v, which is missing" +
          " or incomplete (vacuumed past its retention floor?) — republish" +
          " the group or restore the member")
    s.frame(schema)
  }

  /** Drop old snapshots, subject to a RETENTION FLOOR — the contract
    * that keeps "held readers survive new commits" (and p05-style time
    * travel) true in the presence of maintenance:
    *
    *  - the `keepLast` newest committed snapshots are never dropped
    *    (default 2: current + the one a just-superseded reader may
    *    still hold — a reader that resolved `_VERSION` right before a
    *    commit reads v_{n-1} while v_n publishes);
    *  - nothing younger than `minAgeMs` is dropped, whatever its
    *    position — size this above the longest-running reader job so
    *    age alone protects any frame resolved within the window;
    *  - snapshots ABOVE the committed pointer are never touched: they
    *    belong to an in-flight concurrent committer.
    *
    * The reference needs no vacuum because Postgres MVCC ages out old
    * row versions under the same kind of horizon (oldest active
    * transaction); `keepLast`/`minAgeMs` are that horizon made
    * explicit. Time travel ([[versionPath]]) is only guaranteed within
    * the retention floor — a pruned version fails loudly at read.
    *
    * `lockTtlMs` bounds the crashed-publisher sweep: a dot-prefixed
    * sidecar staging dir is only collected once older than
    * max(minAgeMs, lockTtlMs) — deployments whose publishers hold
    * longer leases (big diffs, slow stores) pass the SAME TTL they
    * pass to commit/clone, so a live staged write is never deleted
    * from under its publisher. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 2,
      minAgeMs: Long = 0L, lockTtlMs: Long = DefaultLockTtlMs): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    require(minAgeMs >= 0L, s"minAgeMs must be >= 0, got $minAgeMs")
    require(lockTtlMs > 0L, s"lockTtlMs must be > 0, got $lockTtlMs")
    currentVersion(spark, root).foreach { cur =>
      val fs = Ingest.fs(spark, root)
      val now = System.currentTimeMillis()
      val versions = fs.listStatus(new Path(root)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
        .map(s => (s.getPath.getName.drop(1).toLong, s))
        .filter(_._1 <= cur)            // in-flight (> cur) untouchable
        .sortBy(-_._1)
      // MANIFEST pinning: a retained manifest carries OLDER versions'
      // files by reference — the dirs holding them must survive the
      // retention floor or every retained read breaks. Dir-granular:
      // one referenced file pins its whole version dir.
      val pinned: Set[Long] = versions.take(keepLast)
        .flatMap { case (v, _) => manifestOf(fs, root, v).getOrElse(Nil) }
        .flatMap(rel => "^v(\\d+)/".r.findFirstMatchIn(rel).map(_.group(1).toLong))
        .toSet
      versions
        .drop(keepLast)                 // the retention floor
        .filter { case (v, _) => !pinned(v) }
        .filter { case (_, s) => now - s.getModificationTime >= minAgeMs }
        .foreach { case (v, s) =>
          fs.delete(s.getPath, true)
          // a snapshot's deletion vectors are scoped to it — prune
          // them with it (orphan DVs would leak forever otherwise);
          // surviving snapshots keep their DVs untouched
          val dv = new Path(dvPath(root, v))
          if (fs.exists(dv)) fs.delete(dv, true)
          // so is its PERSISTED change feed (the v-1 → v transition):
          // once v is unreadable the feed's consumers have already
          // drained it or lost their anchor either way, and keeping
          // it would grow _changes without bound on a long-lived
          // table — the same storage-leak class as orphan DVs. Feeds
          // of RETAINED versions survive, including the lowest
          // retained one (its feed describes the transition INTO the
          // retention window — still consumable). A reader of a
          // pruned feed fails loudly in readChangeFeed.
          val feed = new Path(changePath(root, v))
          if (fs.exists(feed)) fs.delete(feed, true)
        }
      // ORPHAN sweep of the sidecar dirs themselves: the per-snapshot
      // loop above only prunes the feed/DV of a snapshot it deletes
      // THIS run, so sidecars already orphaned — snapshot pruned by a
      // pre-feed-pruning vacuum, or a publisher that crashed between
      // staging and rename — would leak forever. Sweep `_changes` and
      // `_dv` directly: any `v<N>` entry strictly below the retention
      // floor goes (feeds/DVs of RETAINED versions survive, including
      // the lowest retained — its feed describes the transition INTO
      // the window); any dot-prefixed staging dir older than the lock
      // TTL is a crashed publisher (a live one finishes its staged
      // write well inside one lease) and goes too.
      val floor = fs.listStatus(new Path(root)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
        .map(_.getPath.getName.drop(1).toLong)
        .filter(_ <= cur).sorted(Ordering[Long].reverse)
        .take(keepLast).lastOption.getOrElse(cur)
      Seq("_changes", "_dv").foreach { side =>
        val dir = new Path(root, side)
        if (fs.exists(dir)) fs.listStatus(dir).toSeq.foreach { s =>
          val n = s.getPath.getName
          val stale = now - s.getModificationTime >=
            math.max(minAgeMs, lockTtlMs)
          if (n.matches("v\\d+") && n.drop(1).toLong < floor &&
              now - s.getModificationTime >= minAgeMs)
            fs.delete(s.getPath, true)
          else if (n.startsWith(".") && stale)
            fs.delete(s.getPath, true)
        }
      }
      // Crashed-publisher staging dirs directly under ROOT: commits
      // stage `.v<N>_<holder>`, row-level writes `.rlw_<uuid>`, the
      // stream sink `.sink_<uuid>` — a JVM crash between staging and
      // the publish rename leaks a full-snapshot-sized dir forever.
      // Any dot-prefixed DIRECTORY older than the lock TTL is such a
      // crash (a live publisher finishes its staged write well inside
      // one lease); the live lock, its broken-lock tombstones, and
      // the version-pointer tmp are plain FILES and are never touched.
      // EXCEPT: a `.v<N>_<holder>` dir whose holder still OWNS the
      // live lease is a slow-but-alive commit (leases are not renewed
      // during a staged write, so a large commit can outlive one TTL);
      // deleting it would abort a legitimate publisher mid-write. Such
      // a holder is reclaimed by the normal lease-break protocol
      // first — once the lock no longer names it, its dir is fair game.
      val liveHolder = readLease(fs, new Path(root, lockFile)).map(_.holderId)
      fs.listStatus(new Path(root)).toSeq.foreach { s =>
        val n = s.getPath.getName
        val ownedByLiveLease =
          liveHolder.exists(h => h.nonEmpty && n.endsWith("_" + h))
        if (s.isDirectory && n.startsWith(".") && !ownedByLiveLease &&
            now - s.getModificationTime >= math.max(minAgeMs, lockTtlMs))
          fs.delete(s.getPath, true)
      }
    }
  }
}
