package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.Warehouse

/** DataSource V2 front door for the versioned parquet warehouse
  * ([[graft.pipeline.Warehouse]]): `spark.read.format("graft")
  * .option("versionAsOf", 3).load(root)` and the matching write path.
  * This is the connector surface the reference exposes through
  * Postgres + Metabase (`README.md:41-54` — every consumer reaches the
  * warehouse through one declarative door); here the door is Spark's
  * own connector API, so the warehouse composes with plain SQL,
  * `DataFrameReader`, catalogs ([[GraftCatalog]] adds native
  * `VERSION AS OF` / `TIMESTAMP AS OF`), and Structured Streaming
  * ([[GraftCdcTable]] streams the stored change feed).
  *
  * Architecture: the connector contributes the LAKEHOUSE layer only —
  * snapshot resolution (version pinning, `_CLONE` indirection,
  * deletion-vector refusal), commit-protocol writes, and CDC offsets.
  * The scan itself is delegated to Spark's builtin DSv2 parquet
  * machinery ([[ParquetTable]] → `ParquetScanBuilder` → vectorized
  * `ParquetScan`), so column pruning, predicate/aggregate pushdown,
  * partition pruning over hive-layout snapshots
  * ([[Warehouse.commitPartitioned]]), and whole-stage codegen are the
  * SAME battle-tested paths `spark.read.parquet` uses — at 100 TB the
  * connector adds version semantics, not a second (slower) reader.
  *
  * Options:
  *  - `path` (or `load(root)`): warehouse root directory
  *  - `versionAsOf`: pin a committed snapshot (default: current)
  *  - `readChangeFeed=true`: read the STORED change feed
  *    ([[Warehouse.publishChangeFeed]]) instead of a snapshot —
  *    batch (`startingVersion`/`endingVersion`) or streaming
  *    (micro-batch offsets are warehouse versions; see [[GraftCdc]])
  *  - `mergeKey`: upsert key for the write path (default
  *    `shipment_id` when present, else plain append)
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft"

  /** `readStream.format("graft")` WITHOUT `readChangeFeed`: the plain
    * snapshot table is tailed as an append-only stream
    * ([[GraftSnapshotSource]]). Dispatch detail: the snapshot table
    * deliberately does NOT advertise MICRO_BATCH_READ, so
    * DataStreamReader falls back to this V1 source; the CDC table
    * (`readChangeFeed=true`) DOES, so it keeps its V2
    * [[GraftCdcStream]] with the published feeds. */
  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      resolve(new CaseInsensitiveStringMap(parameters.asJava), None).schema()))

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String, schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val root = parameters.get("path").map(_.trim).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        "graft: warehouse root required — readStream.format(\"graft\").load(<root>)"))
    require(!parameters.keys.exists(_.equalsIgnoreCase(GraftTables.VersionAsOf)),
      "graft: versionAsOf has no meaning for a stream — a stream tails the" +
        " LIVE table; use startingVersion to skip history")
    val resolved = schema.getOrElse(
      resolve(new CaseInsensitiveStringMap(parameters.asJava), None).schema())
    require(resolved.nonEmpty,
      s"graft: cannot stream $root — no committed snapshot and no declared" +
        " schema to stream under")
    val starting = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(GraftTables.StartingVersion) =>
        GraftTables.parseVersion(v)
    }.getOrElse(0L)
    new GraftSnapshotSource(sqlContext.sparkSession, root, resolved, starting)
  }

  /** `writeStream.format("graft")` — see [[GraftStreamSink]]. Options:
    * `path` (warehouse root), `mergeKey`, `streamAppId` (default
    * "default"; namespaces the exactly-once epoch markers so several
    * independent streams can share one table). */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft: the streaming sink does not take partitionBy — partition at" +
        " compaction time (Warehouse.compactClustered) instead")
    val root = parameters.get("path").map(_.trim).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        "graft: warehouse root required — writeStream.format(\"graft\").start(<root>)"))
    new GraftStreamSink(sqlContext.sparkSession, root,
      parameters.get(GraftTables.MergeKey).map(_.trim).filter(_.nonEmpty),
      parameters.getOrElse("streamAppId", "default"), outputMode)
  }

  // `true` so the WRITE path hands the incoming frame's schema to
  // [[getTable]]: the first write to a fresh root bootstraps the
  // table from it (there is no snapshot to infer from yet). Reads
  // normally flow through [[inferSchema]] — snapshot footers (or the
  // published feed for CDC) stay authoritative.
  override def supportsExternalMetadata(): Boolean = true

  // inferSchema/inferPartitioning/getTable all need the resolved
  // table; resolve once per distinct (options, schema) pair (the
  // calls arrive back-to-back during DataSourceV2Utils resolution).
  @transient private var cached: ((Map[String, String], Option[StructType]), Table) = _

  private def resolve(options: CaseInsensitiveStringMap,
      fallbackSchema: Option[StructType]): Table = synchronized {
    val key = (options.asCaseSensitiveMap().asScala.toMap, fallbackSchema)
    if (cached == null || cached._1 != key)
      cached = (key, GraftTables.fromOptions(SparkSession.active, options, fallbackSchema))
    cached._2
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolve(options, None).schema()

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    resolve(options, None).partitioning()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    resolve(new CaseInsensitiveStringMap(properties), Option(schema))
}

/** Snapshot/CDC table resolution shared by the format path
  * ([[GraftDataSource]]) and the catalog path ([[GraftCatalog]]). */
object GraftTables {

  val VersionAsOf = "versionAsOf"
  val ReadChangeFeed = "readChangeFeed"
  val StartingVersion = "startingVersion"
  val EndingVersion = "endingVersion"
  val MergeKey = "mergeKey"

  def classic(spark: SparkSession): ClassicSparkSession =
    spark.asInstanceOf[ClassicSparkSession]

  def fs(spark: SparkSession, p: String): org.apache.hadoop.fs.FileSystem =
    new Path(p).getFileSystem(classic(spark).sessionState.newHadoopConf())

  def fromOptions(spark: SparkSession, options: CaseInsensitiveStringMap,
      fallbackSchema: Option[StructType] = None): Table = {
    val root = Option(options.get("path")).map(_.trim).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        "graft: warehouse root required — spark.read.format(\"graft\").load(<root>)"))
    if (options.getBoolean(ReadChangeFeed, false))
      GraftCdc.table(spark, root, options)
    else {
      val versionAsOf = Option(options.get(VersionAsOf)).map(parseVersion)
      snapshotTable(spark, root, versionAsOf,
        Option(options.get(MergeKey)), tableName = s"graft:$root", fallbackSchema)
    }
  }

  /** Auto CHANGE DATA FEED (the Delta `enableChangeDataFeed` shape):
    * a table declaring `TBLPROPERTIES('changeFeed'='true')` gets its
    * stored v-1→v feed published at every connector write — CDC
    * consumers (batch `readChangeFeed`, the streaming source) then
    * never re-diff snapshots. Publication is idempotent and keyed on
    * the table's merge key (required — a keyed diff needs one; loud
    * otherwise). Best-effort ordering: the feed publishes AFTER the
    * version; a crash in between leaves a version whose feed read is
    * LOUD (never wrong), healed by re-running
    * [[Warehouse.publishChangeFeed]] for that version. */
  def maybePublishFeed(spark: SparkSession, root: String, v: Long,
      schema: StructType, mergeKey: Option[String]): Unit =
    if (v >= 1 &&
      GraftCatalog.readProps(spark, root).get("changeFeed").contains("true")) {
      val key = mergeKey.getOrElse(throw new IllegalArgumentException(
        s"graft: table $root declares changeFeed=true but resolves no merge" +
          " key — a keyed diff needs one (TBLPROPERTIES('mergeKey'='…'))"))
      Warehouse.publishChangeFeed(spark, root, v, Seq(key), schema)
    }

  /** LIVE current-snapshot read shared by every connector WRITE path
    * that derives the next version from the current one (batch INSERT
    * merge, SQL DELETE, the streaming sink): deletion vectors applied
    * ([[Warehouse.readWithDv]] — identical to the plain read when no
    * delete has run), column order normalized to the declared schema
    * (a hive-partitioned snapshot surfaces partition columns appended
    * last otherwise). Writing from a RAW read would resurrect
    * DV-deleted rows into the replacement snapshot. */
  def liveRead(spark: SparkSession, root: String,
      schema: StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    Warehouse.currentVersion(spark, root) match {
      case None => classic(spark).createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      case Some(v) =>
        // readVersionLive = DV anti-join + rename map, physical file
        // schema; columns the files lack (sidecar widening) null-fill,
        // and the select normalizes to the declared LOGICAL order.
        val live = Warehouse.readVersionLive(spark, root, v)
        val have = live.columns.toSet
        live.select(schema.fields.toSeq.map(f =>
          if (have(f.name)) col(s"`${f.name}`")
          else lit(null).cast(f.dataType).as(f.name)): _*)
    }
  }

  /** Merge-key resolution shared by the batch INSERT path and the
    * streaming sink: explicit option > declared `_PROPS` TBLPROPERTIES
    * > the implicit `shipment_id` default. A DECLARED key (option or
    * property) that names no column in `schemaFields` THROWS — silently
    * degrading a keyed upsert to plain append would accumulate
    * duplicate keys with no error, the one failure the documented
    * ON CONFLICT parity must not have. Only the implicit default is
    * silently dropped when the schema lacks it. */
  def resolveMergeKey(spark: SparkSession, root: String,
      explicitKey: Option[String], schemaFields: Array[String]): Option[String] = {
    val declared = explicitKey.map(_.trim).filter(_.nonEmpty)
      .map(k => (s"mergeKey option", k))
      .orElse(GraftCatalog.readProps(spark, root).get(MergeKey)
        .map(k => (s"TBLPROPERTIES('$MergeKey')", k)))
    declared match {
      case Some((source, k)) =>
        require(schemaFields.contains(k),
          s"graft: declared merge key '$k' (from $source) is not a column of" +
            s" $root (columns: ${schemaFields.mkString(", ")}) — refusing to" +
            " degrade the keyed upsert to a plain append; fix the key or drop" +
            " the declaration")
        Some(k)
      case None =>
        Some(graft.pipeline.CocoaSchema.mergeKey).filter(schemaFields.contains)
    }
  }

  def parseVersion(s: String): Long =
    try s.trim.toLong
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft: version must be an integer snapshot number, got '$s'")
    }

  /** V1 source filter → Column predicate (for the DELETE path). None
    * for anything not translatable — the caller must refuse, never
    * guess: a mistranslated delete predicate destroys data. Attribute
    * names arrive dot-separated for nested fields; backtick-quoting
    * each segment keeps literal dots in flat names intact. */
  def filterToColumn(f: org.apache.spark.sql.sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.sources._
    def c(attr: String) =
      col(attr.split('.').map(s => s"`$s`").mkString("."))
    f match {
      case EqualTo(a, v) => Some(c(a) === lit(v))
      case EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case GreaterThan(a, v) => Some(c(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case LessThan(a, v) => Some(c(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case In(a, vs) => Some(c(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(c(a).isNull)
      case IsNotNull(a) => Some(c(a).isNotNull)
      case StringStartsWith(a, v) => Some(c(a).startsWith(v))
      case StringEndsWith(a, v) => Some(c(a).endsWith(v))
      case StringContains(a, v) => Some(c(a).contains(v))
      case And(l, r) => for {lc <- filterToColumn(l); rc <- filterToColumn(r)} yield lc && rc
      case Or(l, r) => for {lc <- filterToColumn(l); rc <- filterToColumn(r)} yield lc || rc
      case Not(inner) => filterToColumn(inner).map(not)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** Resolve `root` at `versionAsOf` (default: current) into a
    * readable+writable table over one [[Warehouse.Snapshot]].
    * Correct-or-loud, matching the Warehouse API paths:
    *  - no committed snapshot and no [[GraftCatalog]] schema sidecar
    *    → error, never an empty scan of nothing;
    *  - requested version incomplete/missing → error;
    *  - snapshot carrying complete DELETION-VECTOR parts → the
    *    merge-on-read [[GraftDvScan]] (a raw parquet scan would
    *    silently resurrect deleted rows); an in-flight or crashed
    *    staging part never counts ([[Warehouse.Snapshot.dvParts]]);
    *  - `_CLONE` indirection resolves through the snapshot's data dir,
    *    loud when the clone's source was vacuumed.
    */
  def snapshotTable(spark: SparkSession, root: String, versionAsOf: Option[Long],
      mergeKey: Option[String], tableName: String,
      fallbackSchema: Option[StructType] = None): Table = {
    val current = Warehouse.currentVersion(spark, root)
    versionAsOf.orElse(current) match {
      case None =>
        // No data yet: readable/writable if the catalog declared a
        // schema at CREATE TABLE time ([[GraftCatalog.SchemaSidecar]])
        // or the caller supplied one (the first WRITE to a fresh root
        // bootstraps from the incoming frame's schema). An EMPTY
        // fallback schema is the round-trip of [[GraftBootstrapTable]]
        // through inferSchema→getTable, not a declaration.
        GraftCatalog.readSchemaSidecar(spark, root)
          .orElse(fallbackSchema.filter(_.nonEmpty)) match {
          case Some(schema) =>
            new GraftSnapshotTable(tableName, spark, root, schema, None, mergeKey)
          case None => new GraftBootstrapTable(tableName, root)
        }
      case Some(v) =>
        val snap = Warehouse.snapshot(spark, root, v)
        if (versionAsOf.isDefined)
          snap.requireComplete("graft",
            current.map(c => s" (current is v$c)").getOrElse(""))
        if (snap.isManifest) manifestTable(spark, snap, mergeKey, tableName)
        else plainTable(spark, snap, mergeKey, tableName)
    }
  }

  /** Schema evolution (ALTER TABLE ADD COLUMNS): a declared `_SCHEMA`
    * sidecar that is a SUPERSET of the version's `stored` (physical)
    * schema is the table's schema — files missing the added columns
    * read them as NULL. A sidecar that does NOT cover the stored
    * columns (e.g. stale after API-side commits widened the data
    * directly) must never win: it would silently HIDE committed
    * columns. The sidecar holds LOGICAL names while `stored` holds
    * PHYSICAL ones — the coverage check compares in logical space (a
    * sidecar-widened column must survive a later RENAME COLUMN), and a
    * winning sidecar comes back under PHYSICAL names (the scans
    * re-surface the logical ones above them). */
  private def declaredWidening(spark: SparkSession, snap: Warehouse.Snapshot,
      stored: StructType): Option[StructType] =
    GraftCatalog.readSchemaSidecar(spark, snap.root)
      .filter(d => stored.fields.forall(f =>
        d.fields.exists(df =>
          df.name == snap.p2l.getOrElse(f.name, f.name) &&
            df.dataType == f.dataType)) &&
        d.length > stored.length)
      .map { d =>
        val dPhys = StructType(d.fields.map(f =>
          f.copy(name = snap.l2p.getOrElse(f.name, f.name))))
        require(dPhys.fieldNames.distinct.length == dPhys.fieldNames.length,
          s"graft: declared column(s) of ${snap.root} collide with the physical" +
            s" name of a renamed column (${dPhys.fieldNames.mkString(", ")})" +
            " — rename or drop the colliding declared column first")
        dPhys
      }

  /** MANIFEST version: the snapshot is a FILE LIST (O(Δ) DML —
    * [[Warehouse.appendFiles]] family), read through the builtin
    * vectorized parquet scan over the listed files. HIVE PARTITIONING
    * composes: _MANIFEST_PARTS names the columns, the file paths carry
    * the values, and [[ManifestFileIndex]] serves both. Zone-map
    * sidecars are dir-scoped and do not apply. The stored schema is
    * the one PERSISTED at commit time — a widened manifest chain has
    * MIXED footers (inference would sample one nondeterministically)
    * and an emptied one has none at all. */
  private def manifestTable(spark: SparkSession, snap: Warehouse.Snapshot,
      mergeKey: Option[String], tableName: String): Table = {
    val (root, v) = (snap.root, snap.version)
    val schema = declaredWidening(spark, snap, snap.schema).getOrElse(snap.schema)
    // logical twin of the (physical) resolved schema
    val exposed = snap.logical(schema)
    val parts = snap.parts
    val missing = parts.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"graft: $root v$v partitions by" +
      s" (${missing.mkString(", ")}) absent from its schema —" +
      " _MANIFEST_PARTS and _MANIFEST_SCHEMA disagree")
    if (snap.files.isEmpty) {
      require(schema.nonEmpty, s"graft: $root v$v lists no files and" +
        " persists no schema — declare one via CREATE TABLE")
      // an EMPTIED manifest chain (delete-everything) keeps its
      // carried map and partitioning: the table must still surface
      // LOGICAL names and its layout, or a later INSERT naming the
      // renamed column fails against physical names
      new GraftSnapshotTable(tableName, spark, root, exposed, None,
        mergeKey, Some(snap))
    } else {
      // the scan plans over the manifest-backed index: zero listing,
      // zero stat calls, per-file min/max DATA SKIPPING from the
      // persisted stats, and partition pruning from the path-fragment
      // partition spec ([[ManifestFileIndex]]). NO inner ParquetTable:
      // its lazy InMemoryFileIndex would stat every listed file at
      // resolution — the exact O(files) cost the manifest exists to
      // remove. The scan runs under PHYSICAL names; a carried rename
      // map wraps it in [[GraftMappedScanBuilder]]. DELETION VECTORS
      // compose (round 13): an in-place merge-on-read delete routes the
      // read through [[GraftDvScan]] over the manifest's OWN file list
      // (never a root listing — other versions' files live there too),
      // DV keys root-relative.
      val partSchema = StructType(
        parts.map(p => schema.fields(schema.fieldIndex(p))))
      new GraftSnapshotTable(tableName, spark, root, exposed, None,
        mergeKey, Some(snap), Some(new ManifestFileIndex(spark, root,
          snap.files.map(e => (e.path, e.size, e.mtime)), snap.stats, partSchema)))
    }
  }

  /** PLAIN (or clone / renamed) version: the builtin [[ParquetTable]]
    * over the snapshot's data dir, with its own lazy footer inference,
    * zone maps and dynamic partition pruning. A DV-bearing snapshot
    * reads MERGE-ON-READ through [[GraftDvScan]] (the Delta reader
    * shape), hive-partitioned layouts included (partition values
    * re-derived per file); a renamed snapshot reads through
    * [[GraftMappedScan]] (logical names over untouched physical
    * bytes), its partitioning surfaced under logical names; a version
    * carrying both composes the wrappers — [[GraftDvScanBuilder]]
    * receives the map and translates at its reader boundary. */
  private def plainTable(spark: SparkSession, snap: Warehouse.Snapshot,
      mergeKey: Option[String], tableName: String): Table = {
    val v = snap.version
    def parquetTable(schema: Option[StructType]) =
      ParquetTable(s"$tableName@v$v", classic(spark),
        CaseInsensitiveStringMap.empty(), Seq(snap.dataDir), schema,
        classOf[ParquetFileFormat])
    val inferred = parquetTable(None)
    val inner = declaredWidening(spark, snap, inferred.schema)
      .map(d => parquetTable(Some(d))).getOrElse(inferred)
    new GraftSnapshotTable(tableName, spark, snap.root,
      snap.logical(inner.schema), Some(inner), mergeKey, Some(snap))
  }
}

/** One resolved warehouse snapshot as a DSv2 table.
  *
  * Reads delegate to the wrapped builtin [[ParquetTable]]'s scan
  * builder (vectorized scan, filter/aggregate pushdown, partition
  * pruning — see the class doc of [[GraftDataSource]]). A just-created
  * empty table (schema sidecar, no snapshot) serves a zero-partition
  * scan with the declared schema.
  *
  * Writes do NOT delegate: a raw file-append would bypass the commit
  * protocol and corrupt the versioned layout. Instead the write path
  * is a [[V1Write]] whose [[InsertableRelation]] routes through
  * [[Warehouse.commit]] (lease, private staging, atomic publish):
  *  - append (`INSERT INTO` / mode("append")) = keyed upsert with the
  *    reference's `ON CONFLICT (key) DO UPDATE` semantics
  *    (`cocoa_processing_dag.py:223-237`): incoming rows replace
  *    current rows on `mergeKey` collision, and duplicate keys WITHIN
  *    one incoming batch are an error, exactly as one Postgres INSERT
  *    "cannot affect row a second time". Tables without a usable
  *    merge key get plain append.
  *  - overwrite (`INSERT OVERWRITE` / mode("overwrite")) = the next
  *    snapshot is the incoming frame alone.
  * Either way history is immutable: old versions stay readable via
  * `versionAsOf` until [[Warehouse.vacuum]] prunes them.
  */
class GraftSnapshotTable(tableName: String,
    private[v2] val spark: SparkSession, private[v2] val root: String,
    tableSchema: StructType, inner: Option[ParquetTable],
    mergeKeyOpt: Option[String], snap: Option[Warehouse.Snapshot] = None,
    manifestIndex: Option[ManifestFileIndex] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  // the resolved version's facts (none for a declared-but-empty table)
  private[v2] def resolvedVersion: Option[Long] = snap.map(_.version)
  private val mapping: Map[String, String] = snap.fold(Map.empty[String, String])(_.p2l)
  private val manifestPartCols: Seq[String] =
    snap.filter(_.isManifest).fold(Seq.empty[String])(_.parts)
  private def dataDir: Option[String] = snap.filter(!_.isManifest).map(_.dataDir)
  private def dvSnapshot: Option[Warehouse.Snapshot] = snap.filter(_.dvParts.nonEmpty)

  override def name(): String = tableName
  override def schema(): StructType = tableSchema

  /** Declared `_PROPS` (mergeKey, changeFeed, user properties) — so
    * `SHOW TBLPROPERTIES` and catalog introspection surface what the
    * write paths actually honor. */
  override def properties(): java.util.Map[String, String] =
    GraftCatalog.readProps(spark, root).asJava

  override def partitioning(): Array[Transform] =
    if (snap.exists(_.isManifest))
      // from the _MANIFEST_PARTS sidecar — never the inner table
      // (there is none for manifest versions; an inferred one would
      // stat every listed file); a carried rename map surfaces the
      // LOGICAL names (dirs stay physical; the scan translates);
      // an EMPTIED manifest keeps reporting its layout
      manifestPartCols.map(p =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(
          mapping.getOrElse(p, p)))
        .toArray
    else
    inner.map(_.partitioning().map { t =>
      // a renamed table surfaces its partitioning under LOGICAL names
      // (the directories stay physical; the scan translates)
      if (mapping.isEmpty) t
      else t match {
        case id if id.name == "identity" && id.references.length == 1 &&
            id.references()(0).fieldNames().length == 1 =>
          val phys = id.references()(0).fieldNames()(0)
          org.apache.spark.sql.connector.expressions.Expressions.identity(
            mapping.getOrElse(phys, phys))
        case other => other
      }
    }).getOrElse(Array.empty)

  /** Zone-map-aware file index when the FLAT snapshot carries a
    * `_zonemap` sidecar — then the scan builder below plans over it
    * and selective range queries skip files at planning time
    * ([[ZoneMapFileIndex]]). Partitioned snapshots keep the builtin
    * index (directory pruning already covers them); absent/stale
    * sidecars fall through to the builtin index unchanged. */
  private lazy val zoneMapIndex: Option[ZoneMapFileIndex] =
    dataDir.filter { d =>
      partitioning().isEmpty &&
        GraftTables.fs(spark, d).exists(
          new org.apache.hadoop.fs.Path(graft.sources.ZoneMap.indexPath(d), "_SUCCESS"))
    }.map(d => new ZoneMapFileIndex(spark, d))

  // BATCH_WRITE is declared alongside V1_BATCH_WRITE deliberately:
  // `DataFrameWriter.save()`'s provider path routes to the V2 relation
  // only on a literal BATCH_WRITE check (else it falls back to a DSv1
  // CTAS that this source rejects); the planner then dispatches on the
  // WRITE VALUE — our [[V1Write]] lands in the V1-fallback exec, so
  // both SQL INSERT (which accepts V1_BATCH_WRITE) and path-based
  // save() reach the same commit-protocol insert.
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (manifestIndex.isDefined && dvSnapshot.isDefined) {
      // DV-bearing MANIFEST version: the merge-on-read scan owns the
      // read over the manifest's explicit file list; keys are
      // root-relative, so the "data dir" handed to the key/partition
      // parser is the table ROOT. Rename maps cannot coexist
      // (deleteWhere refuses them on manifest chains).
      // nullable-relaxed, like DataFrameReader.schema(): a widened
      // chain's older files MISS the widened columns and must
      // null-fill through the reader closure
      def relax(st: StructType) = StructType(st.fields.map(_.copy(nullable = true)))
      val partSchema = StructType(manifestPartCols.map(p =>
        tableSchema.fields(tableSchema.fieldIndex(p))))
      new GraftDvScanBuilder(spark, dvSnapshot.get,
        GraftTables.fs(spark, root).makeQualified(
          new org.apache.hadoop.fs.Path(root)).toString,
        relax(tableSchema), relax(partSchema), mapping)
    } else if (manifestIndex.isDefined) {
      // manifest snapshot: the builtin parquet scan plans over the
      // MANIFEST-BACKED file index — zero listing / per-file stats,
      // partition columns served from the index's path-derived spec.
      // The scan runs under PHYSICAL names; a carried rename map
      // wraps it in [[GraftMappedScanBuilder]] (logical boundary).
      val l2p = mapping.map(_.swap)
      val physSchema = StructType(tableSchema.fields.map(f =>
        f.copy(name = l2p.getOrElse(f.name, f.name))))
      val partNames = manifestPartCols.toSet
      val dataSchema = StructType(
        physSchema.fields.filterNot(f => partNames(f.name)))
      val builder =
        org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
          GraftTables.classic(spark), manifestIndex.get, physSchema,
          dataSchema, options)
      if (mapping.nonEmpty) new GraftMappedScanBuilder(builder, mapping)
      // partitioned manifest scans get DYNAMIC partition pruning too
      // (the same [[GraftRuntimeScan]] wrap as plain partitioned
      // snapshots — runtime filters fold into the manifest index's
      // partition spec); renamed chains stay static-pruned (the DPP
      // filter names are logical, the index's spec is physical)
      else if (manifestPartCols.nonEmpty) new GraftRuntimeScanBuilder(builder)
      else builder
    } else inner match {
      // DV-bearing snapshot: the merge-on-read scan OWNS the read —
      // the builtin parquet scan (zone maps and DPP included) would
      // resurrect deleted rows.
      case Some(t) if dvSnapshot.isDefined =>
        // partition schema under LOGICAL names; the DV scan translates
        // physical-ward at its reader boundary (rename composition)
        val physPart = StructType(t.schema.fields.filterNot(f =>
          t.dataSchema.fieldNames.contains(f.name)))
        val partSchema = StructType(physPart.fields.map(f =>
          f.copy(name = mapping.getOrElse(f.name, f.name))))
        new GraftDvScanBuilder(spark, dvSnapshot.get, dataDir.get,
          tableSchema, partSchema, mapping)
      // renamed snapshot: the builtin scan runs under PHYSICAL names,
      // the wrapper translates at the plan boundary (zone-map sidecars
      // key on physical names too — the flat-snapshot zone map path is
      // skipped, a rename is metadata the sidecar predates)
      case Some(t) if mapping.nonEmpty =>
        t.newScanBuilder(options) match {
          case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder =>
            new GraftMappedScanBuilder(p, mapping)
          case other => throw new IllegalStateException(
            s"graft: mapped read expected the builtin parquet scan builder," +
              s" got ${other.getClass.getName}")
        }
      case Some(t) => zoneMapIndex match {
        case Some(idx) =>
          org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
            GraftTables.classic(spark), idx, t.schema, t.dataSchema, options)
        case None => t.newScanBuilder(options) match {
          // partitioned snapshots additionally get DYNAMIC partition
          // pruning (the builtin V2 parquet scan has none) — see
          // [[GraftRuntimeScan]]
          case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder =>
            new GraftRuntimeScanBuilder(p)
          case other => other
        }
      }
      case None => new GraftEmptyScanBuilder(tableSchema)
    }

  /** Merge key for the append path: explicit option first, then the
    * table's persisted `_PROPS` sidecar (declared TBLPROPERTIES),
    * else `shipment_id` when the schema carries it (the reference's
    * PK, `cocoa_processing_dag.py:159`), else None = plain append.
    *
    * Only the IMPLICIT default is silently dropped when absent from
    * the schema: a key the user DECLARED (option or TBLPROPERTIES)
    * that names no column is an error — degrading to plain append
    * would silently accumulate duplicate keys, the opposite of the
    * documented ON CONFLICT parity. */
  private[v2] def mergeKey: Option[String] =
    GraftTables.resolveMergeKey(spark, root, mergeKeyOpt, tableSchema.fieldNames)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwriteFlag: Boolean): Unit =
              GraftSnapshotTable.this.insert(data, overwrite || overwriteFlag)
          }
      }
    }

  private def insert(data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
    import org.apache.spark.sql.functions.col
    // Align to the DECLARED column order: V2 inserts arrive
    // name-resolved but a defensive projection keeps the snapshot's
    // physical layout identical across writers.
    val aligned = data.select(tableSchema.fieldNames.map(col).toSeq: _*)
    val baseVersion = Warehouse.currentVersion(spark, root)
    // MANIFEST MODE — O(Δ) SQL INSERT: once the table's current
    // version carries a manifest (or TBLPROPERTIES('commitMode'=
    // 'manifest') opts in, converting zero-copy on the next insert),
    // a keyed append routes to the file-granular upsert (only files
    // containing a conflicting key are rewritten) and a keyless one
    // appends new files by reference. Overwrite replaces wholesale
    // either way (a fresh snapshot is already O(new data)).
    val manifestMode =
      baseVersion.exists(Warehouse.snapshot(spark, root, _).isManifest) ||
        GraftCatalog.readProps(spark, root).get("commitMode").contains("manifest")
    if (!overwrite && manifestMode && baseVersion.isDefined) {
      val v = mergeKey match {
        case Some(key) =>
          Warehouse.mergeFiles(spark, root, aligned, key)
        case None => Warehouse.appendFiles(spark, root, aligned)
      }
      GraftTables.maybePublishFeed(spark, root, v, tableSchema, mergeKey)
      return
    }
    val next =
      if (overwrite) aligned
      else (baseVersion, mergeKey) match {
        case (None, _) => aligned
        case (Some(_), None) =>
          GraftTables.liveRead(spark, root, tableSchema).unionByName(aligned)
        case (Some(_), Some(key)) =>
          // ON CONFLICT DO UPDATE parity: one statement may not touch
          // the same key twice — O(batch) check, loud like Postgres.
          import org.apache.spark.sql.functions.{count_distinct, count, lit}
          val Array(n, d) = aligned.agg(count(lit(1)), count_distinct(col(key)))
            .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
          require(n == d, s"graft: INSERT batch contains duplicate '$key' values" +
            s" ($n rows, $d distinct) — one statement cannot affect a row twice;" +
            " deduplicate upstream (e.g. Merge.lastWriterWins) first")
          val current = GraftTables.liveRead(spark, root, tableSchema)
          current.join(
            org.apache.spark.sql.functions.broadcast(aligned.select(col(key))),
            Seq(key), "left_anti")
            .unionByName(aligned)
      }
    // expectedCurrent pins the read-modify-write: if a racing commit
    // lands between the read above and the lease, publishing would
    // silently DROP its rows — commit() aborts loudly instead
    // (lost-update fencing; an overwrite replaces wholesale, so the
    // base it was derived from is immaterial and it takes no fence).
    val v = Warehouse.commit(spark, root, next,
      expectedCurrent = if (overwrite) None else Some(baseVersion))
    GraftTables.maybePublishFeed(spark, root, v, tableSchema, mergeKey)
  }

  /** SQL `DELETE FROM` / `TRUNCATE TABLE`: COPY-ON-WRITE by default —
    * the next snapshot is the current one minus the matching rows,
    * through the fenced commit protocol. SQL DELETE semantics: rows
    * where the predicate is TRUE go; FALSE and NULL stay.
    * `canDeleteWhere` rejects untranslatable predicates loudly rather
    * than deleting the wrong rows.
    *
    * OPT-IN MERGE-ON-READ: `TBLPROPERTIES('deleteMode'='merge-on-read')`
    * routes the same statement to [[Warehouse.deleteWhere]]'s deletion
    * vectors instead — O(matched) written per delete, zero data
    * rewritten, and since [[GraftDvScan]] every SQL read of the
    * DV-carrying version stays fully live. The trade, stated where the
    * user opts in: the vectors attach to the CURRENT version IN PLACE
    * (no version bump — high-churn delete traffic does not grow the
    * snapshot history), so the version's content changes under held
    * time-travel readers, and a table with `changeFeed=true` refuses
    * this mode (a feed is version-granular; an in-place delete would
    * be invisible to CDC consumers). [[Warehouse.applyDv]] /
    * compaction folds the vectors back into a clean snapshot. */
  /** SQL `UPDATE` / `MERGE INTO` (and `DELETE` whose predicate cannot
    * be translated to source filters — e.g. subqueries — which the
    * metadata-only path above must refuse): GROUP-BASED (copy-on-write)
    * row-level operations. Spark's own rewrite rules
    * (`RewriteUpdateTable` / `RewriteMergeIntoTable` /
    * `RewriteDeleteFromTable`) turn the DML into a ReplaceData plan
    * over this operation's scan; the replacement snapshot is written
    * by EXECUTORS through the builtin parquet `FileBatchWrite` into a
    * private staging dir and published by the driver through the
    * fenced commit protocol ([[Warehouse.publishStaged]]) — the
    * publish step moves metadata only.
    *
    * Replacement granularity is the WHOLE SNAPSHOT (the warehouse's
    * commit unit), so [[GraftRowLevelOperation]]'s scan refuses filter
    * pushdown — a pruned row would be silently dropped by the
    * replacement write. Partition/file-granular replacement is the
    * Warehouse API's merge-on-read path ([[Warehouse.deleteWhere]]'s
    * deletion vectors). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(this, info.command())

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => GraftTables.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val baseVersion = Warehouse.currentVersion(spark, root)
    if (baseVersion.isEmpty) return // nothing committed, nothing to delete
    val pred = filters.map(f => GraftTables.filterToColumn(f).getOrElse(
      throw new IllegalArgumentException(
        s"graft: cannot translate delete predicate $f — unsupported expression")))
      .reduceOption(_ && _).getOrElse(lit(true))
    val props = GraftCatalog.readProps(spark, root)
    if (props.get("deleteMode").contains("merge-on-read")) {
      require(!props.get("changeFeed").contains("true"),
        s"graft: $root declares changeFeed=true — an in-place merge-on-read" +
          " delete publishes no version and would be invisible to CDC" +
          " consumers; drop deleteMode or the change feed")
      require(mapping.isEmpty,
        s"graft: merge-on-read DELETE on a renamed version is not supported —" +
          " the DV writer addresses physical names; applyDv or use the" +
          " default copy-on-write mode")
      // O(matched): positions of the doomed rows land as a DV part;
      // no data file is rewritten, no version is published.
      Warehouse.deleteWhere(spark, root, pred, tableSchema)
    } else if (baseVersion.exists(Warehouse.snapshot(spark, root, _).isManifest)) {
      // MANIFEST MODE: file-granular delete — only files containing
      // matches are rewritten; None (no match) publishes no version
      Warehouse.deleteWhereFiles(spark, root, pred).foreach(v =>
        GraftTables.maybePublishFeed(spark, root, v, tableSchema, mergeKey))
    } else {
      // live read: a DELETE on a DV-bearing snapshot must not resurrect
      // the already-deleted rows into its replacement
      val kept = GraftTables.liveRead(spark, root, tableSchema)
        .filter(not(coalesce(pred, lit(false))))
      val v = Warehouse.commit(spark, root, kept, expectedCurrent = Some(baseVersion))
      GraftTables.maybePublishFeed(spark, root, v, tableSchema, mergeKey)
    }
  }
}

/** One UPDATE / MERGE / (non-metadata) DELETE statement against a
  * [[GraftSnapshotTable]], group-based: Spark reads the FULL resolved
  * snapshot through [[newScanBuilder]], rewrites it row-by-row per the
  * DML semantics (its own analyzer rules own the 3VL conditions,
  * assignment alignment, and the MERGE cardinality check), and hands
  * the complete replacement to [[newWriteBuilder]]'s batch write.
  *
  * The scan deliberately supports COLUMN PRUNING ONLY (ReplaceData
  * needs every column anyway, so even that is a no-op in practice) and
  * no filter pushdown of any kind: Spark pushes the command's
  * condition into this scan for *group* pruning, and any engine whose
  * replacement unit is coarser than what its scan prunes silently
  * loses the pruned rows. Snapshot-granularity replace ⇒ full scan,
  * stated loudly here rather than discovered at 100 TB.
  *
  * Scale shape: the rewrite is one distributed scan + one distributed
  * parquet write (both Spark-native, whole-stage-codegen'd); the
  * driver's publish is a rename + pointer swap. A snapshot-sized
  * rewrite per DML statement is the textbook copy-on-write trade —
  * cheap reads forever, writes pay; high-churn keys belong on the
  * merge-on-read DV path instead.
  *
  * Layout contract: the replacement snapshot is FLAT — Spark's file
  * V2 write has no dynamic partitioning, so a DML statement on a
  * hive-partitioned snapshot publishes an unpartitioned next version
  * (results identical; reads normalize). Restore the clustered layout
  * with [[graft.pipeline.Warehouse.compactClustered]] / the
  * `graft_compact` TVF when the table's read pattern needs it. */
class GraftRowLevelOperation(table: GraftSnapshotTable,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftReplaceScanBuilder(table.newScanBuilder(options))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = {
            val staging =
              s"${table.root}/.rlw_${java.util.UUID.randomUUID().toString}"
            // the staging writer is Spark's OWN parquet V2 write
            // (executor-parallel, file-committer _SUCCESS semantics) —
            // the connector adds only where the files land and how
            // they publish
            val pt = ParquetTable(s"${table.name()}.replace",
              GraftTables.classic(table.spark), CaseInsensitiveStringMap.empty(),
              Seq(staging), Some(info.schema()), classOf[ParquetFileFormat])
            new GraftReplaceBatchWrite(pt.newWriteBuilder(info).build().toBatch,
              table.spark, table.root, staging, table.resolvedVersion,
              info.schema(), table.mergeKey)
          }
        }
    }
}

/** Column-pruning-only scan wrapper for row-level operations — see
  * [[GraftRowLevelOperation]] for why filter pushdown must be refused
  * here. */
private[v2] class GraftReplaceScanBuilder(inner: ScanBuilder)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  override def pruneColumns(requiredSchema: StructType): Unit = inner match {
    case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
      p.pruneColumns(requiredSchema)
    case _ => ()
  }
  // unwrap runtime filtering too: a runtime group-filter pruning
  // partitions under a snapshot-granular replace would DROP the pruned
  // partitions' rows (RowLevelOperationRuntimeGroupFiltering only
  // engages for filterable scans — unwrapping keeps it off)
  override def build(): org.apache.spark.sql.connector.read.Scan =
    inner.build() match {
      case r: GraftRuntimeScan => r.innerScan
      case s => s
    }
}

/** The replacement write: delegates the data plane to the wrapped
  * builtin parquet [[org.apache.spark.sql.connector.write.BatchWrite]]
  * (executors write the staged snapshot), then publishes the staged
  * dir as the next version through the fenced protocol
  * ([[Warehouse.publishStaged]]). `baseVersion` is the version the
  * statement's SCAN resolved — publishing over an interleaved commit
  * would drop its rows, so the fence aborts loudly instead (and a
  * time-traveled relation can never rewrite the present). Abort rolls
  * back both layers: task files via the inner committer, the staging
  * dir wholesale. */
private[v2] class GraftReplaceBatchWrite(
    inner: org.apache.spark.sql.connector.write.BatchWrite,
    spark: SparkSession, root: String, staging: String,
    baseVersion: Option[Long], dataSchema: StructType,
    feedKey: Option[String])
    extends org.apache.spark.sql.connector.write.BatchWrite {

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    new GraftReplaceWriterFactory(inner.createBatchWriterFactory(info), dataSchema)

  override def useCommitCoordinator(): Boolean = inner.useCommitCoordinator()

  override def onDataWriterCommit(
      message: org.apache.spark.sql.connector.write.WriterCommitMessage): Unit =
    inner.onDataWriterCommit(message)

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    inner.commit(messages) // job-commit: staged files finalized + _SUCCESS
    val v = Warehouse.publishStaged(spark, root, staging,
      expectedCurrent = Some(baseVersion))
    GraftTables.maybePublishFeed(spark, root, v, dataSchema, feedKey)
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    try inner.abort(messages)
    finally GraftTables.fs(spark, staging).delete(new Path(staging), true)
}

/** Strips the rewrite's prepended `__row_operation` column before rows
  * reach the parquet writer.
  *
  * Spark's UPDATE/MERGE rewrites emit `[__row_operation, <table
  * columns>]`, but `ReplaceDataExec` only applies its row projection
  * on the metadata-columns path (`DataAndMetadataWritingSparkTask`);
  * with no required metadata attributes the RAW rows reach the
  * `DataWriter`, and a writer configured with the clean table schema
  * then reads every field one ordinal off — string lengths become
  * garbage integers (observed as `NegativeArraySizeException` /
  * SIGSEGV inside `ParquetWriteSupport`). This wrapper restores the
  * documented contract at the connector boundary, mirroring
  * `DataAndMetadataWritingSparkTask.write` exactly: op-column rows are
  * written only for WRITE(5)/WRITE_WITH_METADATA(6) through a reusable
  * [[org.apache.spark.sql.catalyst.ProjectingInternalRow]]; rows
  * already in table shape (the DELETE rewrite emits no op column) pass
  * through; anything else is a loud error, never a misaligned write. */
private[v2] class GraftReplaceWriterFactory(
    inner: org.apache.spark.sql.connector.write.DataWriterFactory,
    dataSchema: StructType)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private val n = dataSchema.length
      private val proj = new org.apache.spark.sql.catalyst.ProjectingInternalRow(
        dataSchema, (1 to n).toIndexedSeq)
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == n) w.write(row)
        else if (row.numFields == n + 1) {
          val op = row.getInt(0)
          if (op == org.apache.spark.sql.catalyst.util.RowDeltaUtils.WRITE_OPERATION ||
            op == org.apache.spark.sql.catalyst.util.RowDeltaUtils.WRITE_WITH_METADATA_OPERATION) {
            proj.project(row)
            w.write(proj)
          } // other op codes carry no replacement data — skip, as
          // Spark's own DataAndMetadataWritingSparkTask does
        } else throw new IllegalStateException(
          s"graft: replacement row has ${row.numFields} fields; expected" +
            s" $n (table shape) or ${n + 1} (with __row_operation)")
      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
        w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** A never-committed, never-declared root. Resolvable — so the
  * `writeStream` dispatch (which must materialize a table before it
  * can decide to fall back to the V1 [[GraftStreamSink]] that
  * bootstraps the table at its first batch) does not die in
  * `inferSchema` — but LOUD on any read attempt: a fresh root must
  * never scan as silently empty. */
private[v2] class GraftBootstrapTable(tableName: String, root: String)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = new StructType()
  override def partitioning(): Array[Transform] = Array.empty
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new IllegalArgumentException(
      s"graft: no committed snapshot under $root and no declared schema —" +
        " commit data (Warehouse.commit) or CREATE TABLE first")
}

/** Zero-partition scan for a declared-but-empty table. */
private[v2] class GraftEmptyScanBuilder(schema: StructType)
    extends ScanBuilder with org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch {
  override def build(): org.apache.spark.sql.connector.read.Scan = this
  override def readSchema(): StructType = schema
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
    Array.empty
  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new org.apache.spark.sql.connector.read.PartitionReaderFactory {
      override def createReader(p: org.apache.spark.sql.connector.read.InputPartition) =
        throw new IllegalStateException("empty scan has no partitions")
    }
}
