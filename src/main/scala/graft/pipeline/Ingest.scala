package graft.pipeline

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Landing-zone discovery, file-level schema validation and CSV scan
  * (reference O1/O5/O6/O15).
  *
  * The reference's validation is *file-level, not row-level*: a chunk
  * missing any required column is skipped whole with a warning
  * (`cocoa_processing_dag.py:187-190`); rows are never filtered. We
  * reproduce that by checking each file's header line before reading.
  *
  * Column binding is BY NAME, like the reference's pandas — files
  * whose headers carry all required columns load correctly regardless
  * of column order or extra columns. (A naive
  * `spark.read.schema(s).csv(files)` binds positionally when
  * `enforceSchema` is true, silently misparsing reordered files that
  * passed a set-based header check.) Files are grouped by their exact
  * header sequence; each group is read with an all-string positional
  * schema named from its header, then projected+cast by name —
  * usually one group, so still one scan.
  *
  * Scale: the header check reads one line per file, distributed; the
  * per-group scan is a plain `csv(group: _*)` that Spark splits
  * natively, replacing the reference's manual 50k-row chunking and
  * 5-file batching (O3).
  */
object Ingest {

  final case class Discovery(
      valid: Seq[String],
      quarantined: Seq[String],
      headers: Map[String, Seq[String]])

  /** List `*.csv` under the landing dir (reference
    * `check_for_files`, `cocoa_processing_dag.py:56-86`). */
  def discoverCsv(spark: SparkSession, landingDir: String): Seq[String] = {
    val path = new Path(landingDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".csv"))
      .map(_.getPath.toString)
      .sorted
  }

  /** RFC-4180-tolerant header cell cleanup: strip BOM and optional
    * quoting (a quoted or BOM-prefixed header must not quarantine a
    * file Spark's CSV parser would read fine). */
  private[pipeline] def cleanHeaderCell(raw: String): String = {
    val t = raw.replace("\uFEFF", "").trim
    if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\""))
      t.substring(1, t.length - 1).trim
    else t
  }

  /** One header line, cheaply: open, read the first line, close.
    * The caller passes the SESSION's Hadoop conf (shipped via
    * SerializableConfiguration on the executor path): a bare
    * `new Configuration()` would drop every `spark.hadoop.*` setting —
    * object-store credentials, custom scheme bindings — and only
    * appears to work locally because Hadoop's FileSystem cache is
    * keyed by scheme, not by conf. */
  private def readHeaderLine(p: String, conf: Configuration): String =
    try {
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val in = new BufferedReader(
        new InputStreamReader(fs.open(path), StandardCharsets.UTF_8))
      try Option(in.readLine()).getOrElse("")
      finally in.close()
    } catch { case _: Exception => "" }

  /** Small listings are checked on the driver directly — a header
    * read is one FS open + one line, and scheduling a Spark job for a
    * handful of files costs more than the reads. Above this, go
    * executor-side. */
  private val driverHeaderCheckMax = 64

  /** Partition discovered files into header-valid vs quarantined.
    * Headers are read one line per file, no full scan — driver-side
    * for small listings, executor-side beyond
    * [[driverHeaderCheckMax]] files. Missing required columns ⇒
    * quarantine the whole file; extra columns and reordering are
    * tolerated (the reference only checks the missing set,
    * `cocoa_processing_dag.py:31-35,187-190`; its pandas reader binds
    * by name). */
  def validateHeaders(spark: SparkSession, files: Seq[String]): Discovery = {
    if (files.isEmpty) return Discovery(Seq.empty, Seq.empty, Map.empty)
    val required = CocoaSchema.requiredColumns
    val flagged =
      if (files.size <= driverHeaderCheckMax) {
        val conf = spark.sessionState.newHadoopConf()
        files.toArray.map(p => (p, readHeaderLine(p, conf)))
      } else {
        // parallelize with explicit slices: one task per file
        // (capped), no shuffle — repartition() would add an exchange
        // stage just to spread a file list. The session conf rides
        // along (SerializableConfiguration) so executor-side opens
        // resolve the same schemes/credentials as the driver — and it
        // is the SESSION-derived conf (newHadoopConf applies
        // spark.conf-level fs settings), the same one the ≤64-file
        // driver path uses, so behavior cannot change with file count.
        val serConf = new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf())
        spark.sparkContext
          .parallelize(files, math.min(files.size, 256))
          .map(p => (p, readHeaderLine(p, serConf.value)))
          .collect()
      }
    val parsed = flagged.map { case (p, h) =>
      (p, h.split(",", -1).map(cleanHeaderCell).toSeq)
    }
    val (ok, bad) = parsed.partition { case (_, cols) =>
      (required -- cols.toSet).isEmpty
    }
    Discovery(
      valid = ok.map(_._1).toSeq.sorted,
      quarantined = bad.map(_._1).toSeq.sorted,
      headers = ok.toMap)
  }

  /** Read the surviving files with BY-NAME column binding: group by
    * exact header sequence, read each group with an all-string schema
    * in the file's own column order, project the required columns by
    * name and cast to the canonical types. Extra columns are dropped;
    * rows whose key fails to parse are removed (the reference's
    * Postgres PK would reject them — `cocoa_processing_dag.py:159`). */
  def readCsv(spark: SparkSession, disc: Discovery): DataFrame = {
    require(disc.valid.nonEmpty, "no valid files to read")
    val byHeader: Map[Seq[String], Seq[String]] =
      disc.valid.groupBy(p => disc.headers(p)).map { case (h, ps) => h -> ps.toSeq }
    val parts = byHeader.map { case (header, paths) =>
      val rawSchema = StructType(header.map(c => StructField(c, StringType, nullable = true)))
      val raw = spark.read
        .schema(rawSchema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .csv(paths: _*)
      // try_cast, not cast: under ANSI mode (Spark 4 default) a plain
      // cast THROWS on the first malformed value — one dirty cell
      // would poison the whole multi-file scan, the failure mode a
      // daily 100 TB batch cannot afford. try_cast nulls the VALUE and
      // keeps the row (string→timestamp still accepts ISO-8601 with
      // optional fractional seconds, the generator's format); rows
      // whose KEY fails remain dropped below. Deliberately more
      // row-preserving than the reference, whose per-file try/except
      // (O15) would fail the entire file on one bad value.
      raw.select(CocoaSchema.input.fields.map { f =>
        expr(s"try_cast(`${f.name}` AS ${f.dataType.sql})").as(f.name)
      }.toSeq: _*)
    }
    parts.reduce(_ unionByName _)
      .filter(col(CocoaSchema.mergeKey).isNotNull)
  }

  /** Discover + validate + read in one call; `Discovery` is returned
    * alongside so the caller can archive/quarantine (O15/O16). */
  def ingest(spark: SparkSession, landingDir: String): (Option[DataFrame], Discovery) = {
    val disc = validateHeaders(spark, discoverCsv(spark, landingDir))
    val df = if (disc.valid.nonEmpty) Some(readCsv(spark, disc)) else None
    (df, disc)
  }

  private[pipeline] def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** `p`'s whole content as UTF-8 — the driver-side read of the small
    * metadata files (pointers, manifests, sidecars, markers). */
  private[graft] def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Create (or overwrite) `p` holding `text` as UTF-8. */
  private[graft] def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}
