package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.Warehouse

/** MERGE-ON-READ deletion-vector scan: `format("graft")` (and every
  * SQL read through [[GraftCatalog]]) of a snapshot that carries DVs
  * ([[Warehouse.deleteWhere]]'s in-place delete, the Delta/Iceberg DV
  * shape) serves the LIVE rows instead of refusing — the deleted
  * (file, pos) pairs are skipped at read time, exactly like Delta's
  * DV-aware reader.
  *
  * Design, and why it is shaped like Delta's:
  *  - The DV set is loaded ON THE DRIVER at planning time and each
  *    file's sorted positions ride its [[InputPartition]] — the same
  *    plan Delta uses (per-file bitmap shipped with the scan task).
  *    Our vectors are plain (file, pos) parquet rows rather than
  *    roaring bitmaps, so the load is bounded LOUDLY: past
  *    [[GraftDvScan.MaxDvBytes]] on disk the scan refuses and names
  *    [[Warehouse.applyDv]] — the maintenance op that folds overgrown
  *    vectors back into a clean snapshot (the Scala-side
  *    [[Warehouse.readWithDv]] anti-join has the same valve at its
  *    broadcast bound).
  *  - One input partition per data FILE, whole file, no splits:
  *    a DV position is the row's ordinal within its file, so the
  *    reader must consume the file's row groups in order from row 0.
  *    The row-position skip is a two-pointer walk (positions sorted,
  *    rows arrive in file order) — O(1) per row, zero allocation.
  *  - `filters = Nil` to the parquet reader closure, deliberately:
  *    pushed filters skip ROW GROUPS, which would desynchronize the
  *    ordinal count. Spark evaluates the query's predicates above the
  *    scan instead (this scan claims no pushdown). Column PRUNING is
  *    safe (rows still arrive in order) and supported.
  *  - Row-by-row output (`OPTION_RETURNING_BATCH=false`), matching
  *    [[GraftCdcReaderFactory]]: the position skip is per-row anyway.
  *  - HIVE-PARTITIONED snapshots work: each file's partition values
  *    are re-derived from its directory fragment at planning time
  *    (unescaped, cast to the declared types) and delivered as
  *    constant partition columns by the reader closure — the same
  *    mechanism the builtin scan uses, minus its index.
  *
  * The DV-bearing state is TRANSITIONAL by contract (deleteWhere's
  * merge-on-read defers the rewrite; applyDv/compaction restores the
  * vectorized fast path), so trading the vectorized batch read for
  * correctness here costs only the window between a delete and its
  * next maintenance cycle.
  */
object GraftDvScan {
  /** Driver-side load cap for the DV set (on-disk bytes). */
  val MaxDvBytes: Long = 64L * 1024 * 1024

  /** Partition values for `file` under `dataDir`, in `partSchema`
    * field order: hive `k=v` path fragments unescaped and cast to the
    * declared types (`__HIVE_DEFAULT_PARTITION__` → null). Loud on a
    * fragment that names no declared partition column — guessing
    * would misattribute every row of the file. */
  private[v2] def partitionValuesOf(dataDir: String, file: Path,
      partSchema: StructType, sessionZone: String): Array[Any] = {
    if (partSchema.isEmpty) return Array.empty
    val rel = file.toString.stripPrefix(
      if (dataDir.endsWith("/")) dataDir else dataDir + "/")
    val bySpec = rel.split('/').dropRight(1).filter(_.contains('=')).map { seg =>
      val i = seg.indexOf('=')
      ExternalCatalogUtils.unescapePathName(seg.take(i)) ->
        ExternalCatalogUtils.unescapePathName(seg.drop(i + 1))
    }.toMap
    partSchema.fields.map { f =>
      val raw = bySpec.getOrElse(f.name, throw new IllegalStateException(
        s"graft: data file $file carries no '${f.name}=' partition fragment" +
          s" under $dataDir — partition layout and declared partitioning" +
          " disagree"))
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      // SESSION zone, matching the builtin scan's PartitioningUtils
      // parse — a hardcoded UTC would shift timestamp-typed partition
      // values relative to the DV-free read of the same table
      else Cast(Literal(UTF8String.fromString(raw), StringType), f.dataType,
        Option(sessionZone)).eval()
    }
  }
}

case class GraftDvInputPartition(filePath: String, length: Long,
    modificationTime: Long, deletedPositions: Array[Long],
    partitionValues: Array[Any]) extends InputPartition

class GraftDvScanBuilder(spark: SparkSession, snap: Warehouse.Snapshot,
    dataDir: String, tableSchema: StructType, partSchema: StructType,
    mapping: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = tableSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftDvScanImpl(spark, snap, dataDir, tableSchema, required,
      partSchema, mapping)
}

/** `dataDir` is the prefix DV keys and partition fragments are
  * relative to: a plain version's (clone-resolved) data dir, or the
  * table ROOT for a manifest version (its files span version dirs;
  * keys are root-relative). */
class GraftDvScanImpl(spark: SparkSession, snap: Warehouse.Snapshot,
    private val dataDir: String, tableSchema: StructType,
    required: StructType, partSchema: StructType,
    private val mapping: Map[String, String])
    extends Scan with Batch {

  private val root = snap.root
  private val version = snap.version

  // a version carrying BOTH deletion vectors and a rename map: the
  // reader runs under PHYSICAL names (the files'), the reported
  // schema under LOGICAL ones — same boundary translation as
  // [[GraftMappedScan]], zero row transformation (names don't exist
  // in InternalRows)
  private val l2p: Map[String, String] = mapping.map(_.swap)
  private def toPhysical(st: StructType): StructType =
    if (mapping.isEmpty) st
    else StructType(st.fields.map(f =>
      f.copy(name = l2p.getOrElse(f.name, f.name))))

  // the reader closure yields data columns then ALL partition columns
  // appended — report exactly what it produces; Spark projects the
  // requested subset/order above the scan
  private val dataRequired = StructType(
    required.fields.filterNot(f => partSchema.fieldNames.contains(f.name)))

  override def readSchema(): StructType =
    StructType(dataRequired.fields ++ partSchema.fields)

  override def toBatch: Batch = this
  override def description(): String =
    s"graft-dv root=$root v$version (merge-on-read deletion vectors)"

  // structural equality so exchange/scan reuse survives self-joins of
  // a DV-bearing table (the GraftRuntimeScan precedent)
  override def equals(other: Any): Boolean = other match {
    case o: GraftDvScanImpl =>
      root == o.root && version == o.version && dataDir == o.dataDir &&
        readSchema() == o.readSchema() && mapping == o.mapping
    case _ => false
  }
  override def hashCode(): Int = (root, version, readSchema()).hashCode()

  override def planInputPartitions(): Array[InputPartition] = {
    val dvBytes = snap.dvBytes
    require(dvBytes <= GraftDvScan.MaxDvBytes,
      s"graft: snapshot v$version of $root carries $dvBytes bytes of deletion" +
        s" vectors, past the ${GraftDvScan.MaxDvBytes}-byte scan-planning bound —" +
        " fold them into a clean snapshot with Warehouse.applyDv (or read via" +
        " Warehouse.readWithDv) first")
    // Deleted ordinals per data-file NAME (unique within a snapshot —
    // the key deleteWhere records), sorted for the two-pointer skip.
    val deleted: Map[String, Array[Long]] =
      snap.dvFrame match {
        case None => Map.empty
        case Some(dv) => dv.collect()
          .groupBy(_.getString(0))
          .map { case (f, rows) => f -> rows.map(_.getLong(1)).sorted }
      }
    // the snapshot's own file list: a manifest version's persisted
    // entries, a plain version's one hidden-aware listing (a
    // `_zonemap` sidecar's part files are parquet too, and serving
    // them as data would surface null-filled index rows)
    val files = snap.files.map(e => (new Path(e.path), e.size, e.mtime))
    // The DV key is the URL-ENCODED path relative to the data dir
    // (matching Warehouse.withPos' `_metadata.file_path` strip exactly):
    // a hive-partitioned write REUSES part-file names across partition
    // dirs, so a name-only key would alias rows of different
    // partitions.
    val dirName = new Path(dataDir.stripSuffix("/")).getName
    val marker = "/" + dirName + "/"
    def relKey(p: Path): String = {
      val enc = SparkPath.fromPath(p).toString
      val i = enc.lastIndexOf(marker)
      require(i >= 0, s"graft: data file $p is not under $dataDir")
      enc.substring(i + marker.length)
    }
    files.map { case (p, len, mtime) =>
      GraftDvInputPartition(p.toString, len, mtime,
        deleted.getOrElse(relKey(p), Array.empty[Long]),
        GraftDvScan.partitionValuesOf(dataDir, p,
          toPhysical(partSchema),
          spark.sessionState.conf.sessionLocalTimeZone))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      GraftTables.classic(spark),
      dataSchema = toPhysical(StructType(
        tableSchema.fields.filterNot(f => partSchema.fieldNames.contains(f.name)))),
      partitionSchema = toPhysical(partSchema),
      requiredSchema = toPhysical(dataRequired),
      filters = Nil, // MUST stay Nil: row-group skipping would break ordinals
      options = Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = GraftTables.classic(spark).sessionState.newHadoopConf())
    new GraftDvReaderFactory(readFunc)
  }
}

/** Per-file reader: Spark's own parquet reader closure, with the
  * file's deleted ordinals skipped by a two-pointer walk over the
  * in-order row stream. */
class GraftDvReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftDvInputPartition]
    val pf = PartitionedFile(
      partitionValues = new GenericInternalRow(p.partitionValues),
      filePath = SparkPath.fromPathString(p.filePath),
      start = 0L, length = p.length, locations = Array.empty,
      modificationTime = p.modificationTime, fileSize = p.length,
      otherConstantMetadataColumnValues = Map.empty)
    // the closure may yield ColumnarBatches disguised as rows when the
    // vectorized reader engages — flatten, order is preserved
    val rows: Iterator[InternalRow] = readFunc(pf).flatMap { r =>
      (r: Any) match {
        case b: ColumnarBatch =>
          import scala.jdk.CollectionConverters._
          b.rowIterator().asScala
        case row: InternalRow => Iterator.single(row)
      }
    }
    val deleted = p.deletedPositions
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      private var pos = -1L
      private var di = 0
      override def next(): Boolean = {
        while (rows.hasNext) {
          current = rows.next()
          pos += 1
          // advance past stale entries first — a duplicate or
          // out-of-range position must never freeze the pointer
          while (di < deleted.length && deleted(di) < pos) di += 1
          if (di < deleted.length && deleted(di) == pos) di += 1
          else return true
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = () // file handles close with the task
    }
  }
}
