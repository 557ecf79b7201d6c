package org.apache.spark.sql.graftbridge

import java.io.CharArrayWriter

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file MIN/MAX data-skipping stats collected INSIDE the write job
  * (Delta's `DeltaJobStatisticsTracker` shape): every written row
  * passes the task tracker's `newRow` once, so the stats cost no
  * second job and no re-read of the files just written.
  *
  * `output` is the written frame's schema and `partitionBy` its hive
  * partition columns; stats cover the numeric, string, timestamp and
  * date columns of `statSchema` (the table's effective schema), in
  * its order. The persisted forms are the pruning side's PORTABLE
  * ones, and each is the value Spark's own `min`/`max` aggregates
  * would give:
  *   - timestamps as epoch micros and dates as epoch days (Spark's
  *     internal values);
  *   - strings compared in UTF-8 binary (code-point) order;
  *   - float/double NaN kept out of min/max and flagged per file as
  *     `nan:<col>` (NaN sorts above every number, so a stripped max
  *     understates it); ties such as -0.0 vs 0.0 keep the first value;
  *   - an all-null column as explicit `min:null,max:null`;
  *   - a zero-row file, or a schema without stat columns, gets no
  *     stats at all;
  *   - a hive partition column as the file's constant dir value
  *     (empty strings already null, as the dir encodes them).
  * A `statSchema` column the write lacks reads as all-null, as a
  * schema'd read of the files would null-fill it.
  *
  * Lives under `org.apache.spark.sql` for [[JacksonGenerator]], the
  * writer `to_json` uses: the JSON is byte-identical to
  * `to_json(struct(min(..), max(..), ..), ignoreNullFields=false)`.
  *
  * [[collected]] holds, after the write, each file's DIR-RELATIVE
  * literal path (partition dirs included — a partitioned write reuses
  * part-file names across partition dirs) → its stats JSON. Task
  * trackers see task-attempt temp paths (`…/_temporary/…/attempt_<id>/…`);
  * the final path keeps the last `partitionBy.size + 1` segments. */
final class FileStatsTracker(output: StructType, partitionBy: Seq[String],
    statSchema: StructType) extends WriteJobStatsTracker {
  import FileStatsTracker._

  private val dataCols = output.fields.filterNot(f => partitionBy.contains(f.name))
  private val cols: Array[Col] = statSchema.fields.collect {
    case f if statType(f.dataType) =>
      val d = dataCols.indexWhere(_.name == f.name)
      if (d >= 0) Col(f.name, f.dataType, fromPart = false, d)
      else Col(f.name, f.dataType, fromPart = true, partitionBy.indexOf(f.name))
  }
  private val jsonSchema = StructType(cols.toSeq.flatMap { c =>
    val port = c.dt match {
      case TimestampType => LongType
      case DateType => IntegerType
      case dt => dt
    }
    Seq(StructField(s"min:${c.name}", port), StructField(s"max:${c.name}", port)) ++
      (if (c.floating) Seq(StructField(s"nan:${c.name}", BooleanType)) else Nil)
  })

  @volatile private var result = Map.empty[String, String]

  /** Relative path → stats JSON of every non-empty written file. */
  def collected: Map[String, String] = result

  override def newTaskInstance(): WriteTaskStatsTracker = new Task

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    result = stats.iterator.flatMap { case FileStats(m) => m }.toMap

  private final class Acc(val key: String) {
    var rows = 0L
    val min = new Array[Any](cols.length)
    val max = new Array[Any](cols.length)
    val nan = new Array[Boolean](cols.length)

    def offer(i: Int, v: Any): Unit = if (v != null) {
      val c = cols(i)
      val isNan = v match {
        case f: Float => f.isNaN
        case d: Double => d.isNaN
        case _ => false
      }
      if (isNan) nan(i) = true
      else {
        // strictly less / greater: a tie keeps the first value, as
        // Spark's Least/Greatest-based min/max update does
        if (min(i) == null || c.ordering.lt(v, min(i))) min(i) = keep(v)
        if (max(i) == null || c.ordering.gt(v, max(i))) max(i) = keep(v)
      }
    }

    def json(gen: JacksonGenerator, w: CharArrayWriter): String = {
      val vals = cols.indices.flatMap { i =>
        Seq(min(i), max(i)) ++ (if (cols(i).floating) Seq(nan(i)) else Nil)
      }
      gen.write(new GenericInternalRow(vals.toArray))
      gen.flush()
      val s = w.toString
      w.reset()
      s
    }
  }

  private final class Task extends WriteTaskStatsTracker {
    private val files = mutable.LinkedHashMap.empty[String, Acc]
    private var partValues: InternalRow = InternalRow.empty
    private var lastPath: String = _
    private var last: Acc = _

    override def newPartition(partitionValues: InternalRow): Unit =
      partValues = partitionValues.copy()

    override def newFile(filePath: String): Unit = {
      val key = filePath.split("/").takeRight(partitionBy.size + 1).mkString("/")
      val acc = new Acc(key)
      cols.indices.foreach { i =>
        val c = cols(i)
        if (c.fromPart && c.ordinal >= 0) acc.offer(i, c.get(partValues))
      }
      files(filePath) = acc
    }

    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (!(filePath eq lastPath)) {
        lastPath = filePath
        last = files(filePath)
      }
      val acc = last
      acc.rows += 1
      var i = 0
      while (i < cols.length) {
        val c = cols(i)
        if (!c.fromPart) acc.offer(i, c.get(row))
        i += 1
      }
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      val w = new CharArrayWriter
      // no field is a timestamp (ported to micros), so the zone is inert
      val gen = new JacksonGenerator(jsonSchema, w,
        new JSONOptions(Map("ignoreNullFields" -> "false"), "UTC"))
      try FileStats(files.valuesIterator.filter(_.rows > 0 && cols.nonEmpty)
        .map(a => a.key -> a.json(gen, w)).toMap)
      finally gen.close()
    }
  }
}

object FileStatsTracker {
  /** The column types that get stats; others are never pruned. */
  private def statType(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | TimestampType | DateType => true
    case _ => false
  }

  private final case class FileStats(files: Map[String, String]) extends WriteTaskStats

  /** One stat column: read at `ordinal` of the data row, or of the
    * partition values when `fromPart` (ordinal -1 = not written). */
  private final case class Col(name: String, dt: DataType, fromPart: Boolean,
      ordinal: Int) {
    val floating: Boolean = dt == FloatType || dt == DoubleType
    @transient lazy val ordering: Ordering[Any] = TypeUtils.getInterpretedOrdering(dt)
    @transient private lazy val getter = InternalRow.getAccessor(dt, nullable = true)
    def get(row: InternalRow): Any = if (ordinal < 0) null else getter(row, ordinal)
  }

  /** A value safe to hold past the row: strings point into reused
    * row buffers. */
  private def keep(v: Any): Any = v match {
    case s: UTF8String => s.copy()
    case d: Decimal => d.clone()
    case o => o
  }
}
