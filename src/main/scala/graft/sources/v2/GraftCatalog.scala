package graft.sources.v2

import java.nio.charset.StandardCharsets
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Column, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.Warehouse

/** A [[TableCatalog]] over a directory of warehouse roots — the piece
  * that makes versioned tables first-class in PLAIN SQL:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.gwh", "graft.sources.v2.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.gwh.base", "/data/warehouses")
  * spark.sql("SELECT * FROM gwh.cocoa")                    // current snapshot
  * spark.sql("SELECT * FROM gwh.cocoa VERSION AS OF 3")    // time travel
  * spark.sql("SELECT * FROM gwh.cocoa TIMESTAMP AS OF '...'")
  * spark.sql("CREATE TABLE gwh.t (id STRING, v DOUBLE) USING graft")
  * spark.sql("INSERT INTO gwh.t SELECT ...")               // keyed upsert commit
  * }}}
  *
  * Layout: each table is the subdirectory `base/<name>` holding a
  * [[Warehouse]] root (versioned snapshots + `_VERSION` pointer). A
  * table created before its first commit carries only a `_SCHEMA`
  * sidecar (the declared schema as `StructType.json`) so reads/inserts
  * resolve before data exists. `VERSION AS OF` resolves through
  * [[TableCatalog.loadTable(Identifier, String)]] — Spark's native
  * time-travel syntax, no TVF required (the `graft_time_travel` TVF
  * remains for FROM-clause composition). `TIMESTAMP AS OF` maps the
  * requested instant to the newest snapshot whose publish time
  * (`_SUCCESS` mtime) is at or before it — loud when the instant
  * precedes the table's history.
  *
  * Scale note: every catalog operation is O(1) driver metadata (a
  * pointer read, a dir listing); nothing here touches data files.
  */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = _
  private var base: String = _
  private var mergeKeyDefault: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    base = Option(options.get("base")).map(_.trim).filter(_.nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs spark.sql.catalog.$name.base=<dir>"))
    mergeKeyDefault = Option(options.get(GraftTables.MergeKey))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  /** Single-level namespace: identifiers are `catalog.table` (empty
    * namespace) or `catalog.default.table`. */
  private def checkNamespace(namespace: Array[String]): Unit =
    if (!(namespace.isEmpty || namespace.sameElements(Array("default"))))
      throw new NoSuchNamespaceException(namespace)

  private def rootOf(ident: Identifier): String = {
    checkNamespace(ident.namespace())
    require(!ident.name().contains("/") && !ident.name().startsWith("_") &&
      !ident.name().startsWith("."),
      s"graft: illegal table name '${ident.name()}'")
    s"$base/${ident.name()}"
  }

  private def exists(root: String): Boolean = {
    val fs = GraftTables.fs(spark, root)
    fs.exists(new Path(root)) &&
      (Warehouse.currentVersion(spark, root).nonEmpty ||
        GraftCatalog.readSchemaSidecar(spark, root).nonEmpty)
  }

  override def tableExists(ident: Identifier): Boolean =
    try exists(rootOf(ident)) catch { case _: NoSuchNamespaceException => false }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    checkNamespace(namespace)
    val fs = GraftTables.fs(spark, base)
    if (!fs.exists(new Path(base))) Array.empty
    else fs.listStatus(new Path(base)).toSeq
      .filter(s => s.isDirectory && exists(s.getPath.toString))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    if (!exists(root)) throw new NoSuchTableException(ident)
    GraftTables.snapshotTable(spark, root, versionAsOf = None,
      mergeKey = mergeKeyDefault, tableName = s"$catalogName.${ident.name()}")
  }

  /** `VERSION AS OF <v>` — Spark routes the literal here. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    if (!exists(root)) throw new NoSuchTableException(ident)
    GraftTables.snapshotTable(spark, root,
      versionAsOf = Some(GraftTables.parseVersion(version)),
      mergeKey = mergeKeyDefault, tableName = s"$catalogName.${ident.name()}@$version")
  }

  /** `TIMESTAMP AS OF <ts>` — `timestamp` arrives as MICROSECONDS
    * since the epoch; resolve to the newest snapshot published at or
    * before it (publish time = the snapshot `_SUCCESS` mtime, the
    * instant the atomic rename made it visible). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    if (!exists(root)) throw new NoSuchTableException(ident)
    val fs = GraftTables.fs(spark, root)
    val cutoffMs = timestamp / 1000L
    val versions = fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
      .flatMap { s =>
        val succ = new Path(s.getPath, "_SUCCESS")
        val clone = new Path(s.getPath, "_CLONE")
        val stamp =
          if (fs.exists(succ)) Some(fs.getFileStatus(succ).getModificationTime)
          else if (fs.exists(clone)) Some(fs.getFileStatus(clone).getModificationTime)
          else None
        stamp.map(t => (s.getPath.getName.drop(1).toLong, t))
      }
    val eligible = versions.filter(_._2 <= cutoffMs)
    require(eligible.nonEmpty,
      s"graft: no snapshot of ${ident.name()} published at or before" +
        s" ${java.time.Instant.ofEpochMilli(cutoffMs)} (earliest is" +
        s" ${versions.map(_._2).minOption.map(java.time.Instant.ofEpochMilli)})")
    val v = eligible.maxBy(v => (v._2, v._1))._1
    GraftTables.snapshotTable(spark, root, versionAsOf = Some(v),
      mergeKey = mergeKeyDefault, tableName = s"$catalogName.${ident.name()}@t$v")
  }

  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable())))
    require(partitions.isEmpty,
      "graft: partitioned CREATE TABLE is not supported through the catalog —" +
        " commit with Warehouse.commitPartitioned for hive-layout snapshots")
    val root = rootOf(ident)
    if (exists(root)) throw new TableAlreadyExistsException(ident)
    val fs = GraftTables.fs(spark, root)
    fs.mkdirs(new Path(root))
    val out = fs.create(new Path(root, GraftCatalog.SchemaSidecar), true)
    try out.write(schema.json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    // persist declared TBLPROPERTIES (notably mergeKey) so every later
    // loadTable — not just this returned instance — honors them
    GraftCatalog.writeProps(fs, root, properties.asScala.toMap)
    val tableMergeKey = Option(properties.get(GraftTables.MergeKey))
      .orElse(mergeKeyDefault)
    new GraftSnapshotTable(s"$catalogName.${ident.name()}", spark, root, schema,
      inner = None, mergeKeyOpt = tableMergeKey)
  }

  /** `ALTER TABLE … ADD COLUMNS` / `SET TBLPROPERTIES` /
    * `UNSET TBLPROPERTIES`: pure METADATA operations — the widened
    * schema lands in the `_SCHEMA` sidecar and every snapshot (past
    * and future) reads under it, with the not-yet-existing columns as
    * NULL (parquet missing-column semantics; the warehouse documents
    * this evolution contract on [[graft.pipeline.Warehouse.read]]).
    * No data rewrite, ever — the 100 TB cost of this DDL is one
    * sidecar write. Added columns must be top-level and nullable;
    * renames/drops/type changes need a rewrite and stay loud
    * ([[graft.pipeline.Warehouse.renameColumns]]). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!exists(root)) throw new NoSuchTableException(ident)
    var schema = loadTable(ident).schema()
    val props = scala.collection.mutable.LinkedHashMap(
      GraftCatalog.readProps(spark, root).toSeq: _*)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft: only top-level ADD COLUMN is supported")
        val colName = add.fieldNames()(0)
        require(!schema.fieldNames.contains(colName),
          s"graft: column '$colName' already exists")
        require(add.isNullable,
          "graft: added columns must be nullable — every existing snapshot" +
            " reads them as NULL")
        schema = schema.add(colName, add.dataType(), nullable = true)
      case set: TableChange.SetProperty => props(set.property()) = set.value()
      case rm: TableChange.RemoveProperty => props.remove(rm.property())
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          "graft: only top-level RENAME COLUMN is supported")
        val from = rn.fieldNames()(0)
        val to = rn.newName()
        require(schema.fieldNames.contains(from),
          s"graft: no column named '$from' to rename" +
            s" (columns: ${schema.fieldNames.mkString(", ")})")
        require(!schema.fieldNames.contains(to),
          s"graft: rename target '$to' already exists")
        // ZERO-COPY rename ([[Warehouse.renameColumns]], the Delta
        // column-mapping shape): a metadata-only version whose
        // `_MAPPING` renames the physical column at read time. Era
        // semantics: TIME TRAVEL to a pre-rename version keeps that
        // era's names; the mapped version (and every later write,
        // which lands logical-as-physical) shows the new name over
        // the same bytes.
        // a declared merge key follows its column through the rename
        if (props.get(GraftTables.MergeKey).contains(from))
          props(GraftTables.MergeKey) = to
        Warehouse.currentVersion(spark, root) match {
          case Some(cur) =>
            val phys = Warehouse.snapshot(spark, root, cur).schema
            val renamedV = Warehouse.renameColumns(spark, root, Map(from -> to), phys)
            // auto-CDF tables: publish the rename version's (EMPTY)
            // feed immediately — no rows changed, but a feed GAP
            // would stall CDC streams at this version forever
            val renamedSchema = StructType(schema.fields.map(f =>
              if (f.name == from) f.copy(name = to) else f))
            // key from the IN-MEMORY props (the sidecar on disk is
            // written after the change loop and would be stale here)
            val key = props.get(GraftTables.MergeKey)
              .map(_.trim).filter(_.nonEmpty)
              .orElse(Some(graft.pipeline.CocoaSchema.mergeKey))
              .filter(renamedSchema.fieldNames.contains)
            GraftTables.maybePublishFeed(spark, root, renamedV, renamedSchema, key)
          case None => () // pre-first-commit: the sidecar below is the table
        }
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
      case _: TableChange.DeleteColumn =>
        throw new UnsupportedOperationException(
          "graft: DROP COLUMN is refused — committed snapshots, time travel" +
            " and the change feed keep reading the column, so a drop would" +
            " orphan data; project it away in a new table (CTAS) instead")
      case other => throw new UnsupportedOperationException(
        s"graft: unsupported ALTER TABLE change $other — type changes need" +
          " a rewrite (create a new table from a projection)")
    }
    val fs = GraftTables.fs(spark, root)
    val out = fs.create(new Path(root, GraftCatalog.SchemaSidecar), true)
    try out.write(schema.json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    GraftCatalog.writeProps(fs, root, props.toMap)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    val fs = GraftTables.fs(spark, root)
    if (!exists(root)) false
    else fs.delete(new Path(root), true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = rootOf(oldIdent); val to = rootOf(newIdent)
    if (!exists(from)) throw new NoSuchTableException(oldIdent)
    if (exists(to)) throw new TableAlreadyExistsException(newIdent)
    val fs = GraftTables.fs(spark, from)
    require(fs.rename(new Path(from), new Path(to)),
      s"graft: rename $from -> $to failed")
  }
}

object GraftCatalog {

  /** Declared-schema sidecar a pre-first-commit table carries. */
  val SchemaSidecar = "_SCHEMA"

  /** Declared table properties (one `key=value` per line, keys may
    * not contain '='; values are trimmed). Carries `mergeKey` so the
    * upsert semantics survive across catalog loads. */
  val PropsSidecar = "_PROPS"

  def writeProps(fs: org.apache.hadoop.fs.FileSystem, root: String,
      props: Map[String, String]): Unit = {
    val clean = props.filter { case (k, v) =>
      !k.contains('=') && !k.contains('\n') && !v.contains('\n') }
    if (clean.nonEmpty) {
      val out = fs.create(new Path(root, PropsSidecar), true)
      try out.write(clean.map { case (k, v) => s"$k=$v" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  def readProps(spark: SparkSession, root: String): Map[String, String] = {
    val fs = GraftTables.fs(spark, root)
    val p = new Path(root, PropsSidecar)
    if (!fs.exists(p)) Map.empty
    else graft.pipeline.Ingest.readText(fs, p).linesIterator
      .filter(_.contains('=')).map { line =>
        val i = line.indexOf('=')
        line.take(i) -> line.drop(i + 1).trim
      }.toMap
  }

  def readSchemaSidecar(spark: SparkSession, root: String): Option[StructType] = {
    val fs = GraftTables.fs(spark, root)
    val p = new Path(root, SchemaSidecar)
    if (!fs.exists(p)) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(
      graft.pipeline.Ingest.readText(fs, p)).asInstanceOf[StructType])
  }
}
