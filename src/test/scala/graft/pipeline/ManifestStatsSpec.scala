package graft.pipeline

import java.nio.file.Files

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Parity of the persisted per-file stats: the stats a manifest commit
  * collects WHILE writing must equal, file by file and compared as
  * parsed JSON, what a Spark aggregation over the written files gives
  * ([[referenceStats]], the post-write job the commits used to run).
  * The set of files that carry a stats line must match too (zero-row
  * files carry none). Seeded random frames cover every stat type plus
  * the edges of the persisted forms: NaN and ±0.0 (first value wins a
  * tie), nulls and all-null columns, empty input partitions, non-ASCII
  * and beyond-BMP strings, JSON escaping, timestamps before 1970, and
  * hive partition values that need path escaping — including part-file
  * names repeated across partition dirs and files rolled over by
  * `maxRecordsPerFile`. */
class ManifestStatsSpec extends AnyFunSuite {
  // isolated conf: some seeds roll files over by maxRecordsPerFile
  lazy val spark: SparkSession = SparkTestSession.spark.newSession()

  private val Seeds = 12
  private val mapper = new ObjectMapper()

  /** The old post-write aggregation, kept as the reference: one
    * `to_json(struct(min, max, nan flag))` per `_metadata.file_path`
    * over a schema'd read of `dir`. Keys are `dir`-relative literal
    * paths. */
  private def referenceStats(dir: Path, schema: StructType): Map[String, String] = {
    val statCols = schema.fields.filter(f => f.dataType match {
      case _: NumericType | StringType | TimestampType | DateType => true
      case _ => false
    })
    if (statCols.isEmpty) return Map.empty
    def port(c: Column, dt: DataType) = dt match {
      case TimestampType => unix_micros(c)
      case DateType => datediff(c, to_date(lit("1970-01-01")))
      case FloatType | DoubleType => when(isnan(c), lit(null)).otherwise(c)
      case _ => c
    }
    val aggs = statCols.toSeq.flatMap { f =>
      val base = Seq(
        min(port(col(s"`${f.name}`"), f.dataType)).as(s"min:${f.name}"),
        max(port(col(s"`${f.name}`"), f.dataType)).as(s"max:${f.name}"))
      f.dataType match {
        case FloatType | DoubleType =>
          base :+ max(isnan(col(s"`${f.name}`"))).as(s"nan:${f.name}")
        case _ => base
      }
    }
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val dirQ = fs.makeQualified(dir).toString.stripSuffix("/") + "/"
    spark.read.schema(schema).parquet(dir.toString)
      .groupBy(col("_metadata.file_path").as("__f"))
      .agg(to_json(struct(aggs: _*), Map("ignoreNullFields" -> "false")).as("__stats"))
      .collect().map { r =>
        val literal = SparkPath.fromUrlString(r.getString(0)).toPath.toString
        assert(literal.startsWith(dirQ), s"$literal is not under $dirQ")
        literal.stripPrefix(dirQ) -> r.getString(1)
      }.toMap
  }

  /** Version `v`'s NEW files (dir-relative) → their persisted stats
    * JSON, and every new file's relative path. */
  private def persisted(root: String, v: Long): (Map[String, String], Set[String]) = {
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val fresh = Warehouse.manifestOf(fs, root, v).get.map(_.split("\t", 4))
      .filter(_(0).startsWith(s"v$v/"))
    (fresh.collect { case Array(p, _, _, j) => p.stripPrefix(s"v$v/") -> j }.toMap,
      fresh.map(_(0).stripPrefix(s"v$v/")).toSet)
  }

  private val schema = StructType(Seq(
    StructField("b", ByteType), StructField("s", ShortType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("dec", DecimalType(12, 3)), StructField("big", DecimalType(30, 4)),
    StructField("str", StringType), StructField("day", DateType),
    StructField("ts", TimestampType), StructField("flag", BooleanType),
    StructField("part", StringType), StructField("bucket", IntegerType),
    StructField("zero", DoubleType)))

  private val strings = Seq("", "a", "Z", "é", "日本", "￿", "～",
    "😀", "𝄞", "q\"uote", "back\\slash", "tab\tnl\n", "\u0001")
  // ASCII only: a JVM under the POSIX locale cannot create non-ASCII
  // file names (partition values become dir names)
  private val parts = Seq("plain", "a/b", "c d", "x=y", "100%", "", "a:b[0]", "q\"t", "#?*")
  private val floats = Seq(Double.NaN, 0.0, -0.0, 1.5, -2.25, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MinPositiveValue)

  /** A seeded frame: per-column null rates drawn per seed (1.0 gives
    * an all-null column), more input partitions than rows on some
    * seeds (empty partitions, partition 0 among them). */
  private def frame(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    val n = rnd.nextInt(40)
    val nullRate = schema.fields.map(_ =>
      rnd.nextInt(4) match { case 0 => 1.0; case 1 => 0.0; case _ => rnd.nextDouble() })
    def v[T](i: Int)(gen: => T): Any = if (rnd.nextDouble() < nullRate(i)) null else gen
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
    val rows = (0 until n).map { _ =>
      org.apache.spark.sql.Row(
        v(0)((rnd.nextInt(256) - 128).toByte),
        v(1)(rnd.nextInt(65536).toShort),
        v(2)(rnd.nextInt()),
        v(3)(rnd.nextLong()),
        v(4)(if (rnd.nextBoolean()) pick(floats).toFloat else rnd.nextFloat() * 100 - 50),
        v(5)(if (rnd.nextBoolean()) pick(floats) else rnd.nextGaussian() * 1e6),
        v(6)(BigDecimal(rnd.nextInt(2000000) - 1000000, 3).bigDecimal),
        v(7)(BigDecimal(BigInt(80, rnd) - (BigInt(1) << 79), 4).bigDecimal),
        v(8)((0 until rnd.nextInt(4)).map(_ => pick(strings)).mkString),
        v(9)(java.time.LocalDate.ofEpochDay(rnd.nextInt(80000) - 30000L)),
        v(10)(java.time.Instant.ofEpochSecond(rnd.nextLong() % 4000000000L,
          rnd.nextInt(1000000) * 1000L)),
        v(11)(rnd.nextBoolean()),
        v(12)(pick(parts)),
        v(13)(rnd.nextInt(3)),
        // ±0.0 only: every min and max is a tie the first value wins
        v(14)(if (rnd.nextBoolean()) 0.0 else -0.0))
    }
    val slices = if (rnd.nextBoolean()) n + 5 else 1 + rnd.nextInt(4)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
  }

  private def assertParity(root: String, v: Long, ctx: String): Int = {
    val (got, files) = persisted(root, v)
    val ref = referenceStats(new Path(Warehouse.versionPath(root, v)),
      Warehouse.effectiveSchema(spark, root, v))
    assert(got.keySet === ref.keySet, s"$ctx: files with a stats line differ" +
      s" (all new files: ${files.toSeq.sorted.mkString(", ")})")
    got.foreach { case (f, j) =>
      assert(mapper.readTree(j) == mapper.readTree(ref(f)),
        s"$ctx: $f\n  write-time: $j\n  reference:  ${ref(f)}")
    }
    got.size
  }

  test(s"write-time stats equal the post-write aggregation over $Seeds seeded frames") {
    var statted = 0
    (1 to Seeds).foreach { seed =>
      Seq(Nil, Seq("part"), Seq("part", "bucket")).foreach { by =>
        spark.conf.set("spark.sql.files.maxRecordsPerFile", if (seed % 3 == 0) 3L else 0L)
        val root = Files.createTempDirectory("wh_stats").toString
        val ctx = s"seed $seed partitionBy(${by.mkString(",")})"
        val df = frame(seed)
        val v = Warehouse.appendFiles(spark, root, df, partitionBy = by)
        statted += assertParity(root, v, ctx)
        // a rewrite: the rows come back through the manifest read path
        Warehouse.deleteWhereFiles(spark, root, col("i") < 0).foreach { v2 =>
          statted += assertParity(root, v2, s"$ctx, after delete")
        }
      }
    }
    spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert(statted > Seeds, s"only $statted files carried stats")
  }

  test("partitioned writes key stats by dir-relative path and escape partition values") {
    import spark.implicits._
    val root = Files.createTempDirectory("wh_stats_part").toString
    // two input partitions, each writing into every partition dir: the
    // part-file names repeat across dirs
    val df = Seq(("a/b", 1, 1.0), ("c d", 2, -0.0), ("x=y", 3, 0.0), ("100%", 4, Double.NaN),
      ("a/b", 5, 2.0), ("c d", 6, 0.0), ("x=y", 7, -0.0), ("100%", 8, 3.0))
      .toDF("part", "i", "d").repartition(2, $"i")
    val v = Warehouse.appendFiles(spark, root, df, partitionBy = Seq("part"))
    val (got, _) = persisted(root, v)
    val names = got.keys.toSeq.map(_.split("/").last)
    assert(names.distinct.size < names.size, s"expected repeated part-file names: $names")
    assert(got.keys.map(_.split("/").head).toSet ===
      Set("part=a%2Fb", "part=c d", "part=x%3Dy", "part=100%25"))
    assertParity(root, v, "escaped partitions")
  }
}
