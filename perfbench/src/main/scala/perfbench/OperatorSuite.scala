package perfbench

import java.sql.Timestamp
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.pipeline.{CocoaGen, CocoaSchema}

/** The star-schema tables the `SparkEntry` rows read (`region` ..
  * `embeddings`, one parquet file each), generated from a seed in the
  * shape of the test fixtures: the same columns and types, the same
  * value domains (2-dp money, day-granular order and ship dates,
  * 64-dim labelled embeddings, a small shared vocabulary of document
  * words). `orders` sets the scale: customers, parts, suppliers, line
  * items and events follow it in the fixtures' ratios. Rows are built
  * on the driver from one `Random`, so a seed always gives the same
  * files. */
object SfGen {
  private val ntz = TimestampNTZType
  private def schema(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  private val vocab = ("a the key agg row scan slow fast table value part hash merge batch spark line " +
    "sort window customer order data column join small query filter stream group big vector").split(" ")

  /** Writes every table under `dir`; returns the number of rows written. */
  def write(spark: SparkSession, dir: String, seed: Long, orders: Int): Long = {
    val r = new scala.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def money(lo: Int, hi: Int): Double = (lo + r.nextInt(hi - lo + 1)) / 100.0
    val nCust = orders / 10
    val nSupp = math.max(orders / 150, 10)
    val nPart = orders * 2 / 15
    val nEvents = orders * 2 / 3
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val tables = Seq(
      "region" -> (schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) }),
      "nation" -> (schema("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
        (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))),
      "customer" -> (schema("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
        (0 until nCust).map(k => Row(k.toLong, f"Customer#$k%09d", r.nextInt(25), money(-99999, 999999),
          pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))))),
      "supplier" -> (schema("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
        "s_acctbal" -> DoubleType),
        (0 until nSupp).map(k => Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25), money(-99999, 999999)))),
      "part" -> (schema("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
        (0 until nPart).map(k => Row(k.toLong,
          pick(Seq("red", "blue", "old", "new", "hot", "cold", "small", "large")) + " " +
            pick(Seq("bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo")),
          s"Brand#${1 + r.nextInt(25)}", pick(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")),
          1 + r.nextInt(50), (90000 + (k % 1000) * 10) / 100.0))))
    val orderDates = Array.fill(orders)(day0.plusDays(r.nextInt(2404)))
    val orderRows = (0 until orders).map(k => Row(k.toLong, r.nextInt(nCust).toLong, pick(Seq("F", "O", "P")),
      money(100000, 50000000), orderDates(k),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))
    val lineRows = (0 until orders).flatMap { o =>
      (1 to 1 + r.nextInt(7)).map(j => Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, j,
        (1 + r.nextInt(50)).toDouble, money(90000, 10500000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(Seq("A", "N", "R")), pick(Seq("F", "O")), orderDates(o).plusDays(1 + r.nextInt(121))))
    }
    val spacingUs = 30L * 24 * 3600 * 1000000 / nEvents
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val eventRows = (0 until nEvents).map(i => Row(i.toLong,
      t0.plusNanos((i * spacingUs + (r.nextDouble() * spacingUs).toLong) * 1000), r.nextInt(150).toLong,
      pick(Seq("click", "signup", "error", "view", "purchase")), money(1, 50000), s"""{"k": ${r.nextInt(100)}}"""))
    val docRows = (0 until 500).map { i =>
      val text = Seq.fill(20 + r.nextInt(61))(pick(vocab.toSeq)).mkString(" ")
      Row(i.toLong, text, pick(Seq("en", "en", "en", "de", "es", "fr", "zh")), s"src${r.nextInt(20)}",
        text.length.toLong)
    }
    val centers = Array.fill(10, 64)(r.nextGaussian() * 0.1)
    val embRows = (0 until 500).map { i =>
      val label = r.nextInt(10)
      Row(i.toLong, centers(label).map(c => (c + r.nextGaussian() * 0.05).toFloat).toSeq, label)
    }
    val all = tables ++ Seq(
      "orders" -> (schema("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> ntz, "o_orderpriority" -> StringType), orderRows),
      "lineitem" -> (schema("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> ntz), lineRows),
      "events" -> (schema("event_id" -> LongType, "ts" -> ntz, "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType), eventRows),
      "documents" -> (schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), docRows),
      "embeddings" -> (schema("vec_id" -> LongType, "embedding" -> ArrayType(FloatType, containsNull = true),
        "label" -> IntegerType), embRows))
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    all.foreach { case (name, (sch, rows)) =>
      val tmp = s"$dir/_$name"
      spark.createDataFrame(rows.asJava, sch).coalesce(1).write.parquet(tmp)
      val part = fs.listStatus(new Path(tmp)).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      fs.rename(part, new Path(s"$dir/$name.parquet"))
      fs.delete(new Path(tmp), true)
    }
    all.map(_._2._2.size.toLong).sum
  }
}

/** A fixed subset of the `SparkEntry` registry, one row per package
  * of the operator library, run in registry order over tables
  * generated in set-up. The cold round is one unchecked pass in a
  * fresh JVM; a measured round is two warm passes, each on new tables.
  * `SparkEntry.resetMemos()` runs before every pass, so each pass pays
  * for the work a memo would skip.
  *
  * Results are checked outside the timed region. Rows over the
  * generated tables are written out with their `SparkEntry.oracleSql`
  * for a DuckDB compare after the run (`run.py`); the two cocoa rows
  * are compared with a plain-Spark last-writer-wins model here. */
object OperatorSuite extends Workload {
  val name = "operator_suite"

  /** Row id -> registry name, in registry order. */
  val rows: Seq[(String, String)] = Seq(
    "p06" -> "p06_jdbc_warehouse",            // pipeline.JdbcWarehouse
    "q03" -> "q03_revenue_by_nation",         // operators.Relational
    "r01" -> "r01_bm25_topk",                 // operators.Retrieval, functions, plans.TopKPerKey
    "s04" -> "s04_cocoa_stream_warehouse")    // streaming.CocoaStream

  /** Rows that run the cocoa pipeline on fixed generated batches rather
    * than reading the tables; they are checked against [[cocoaModel]]. */
  private val cocoaRows = Set("p06", "s04")

  /** File of round records for the DuckDB compare in `run.py`. */
  def checksFile(work: String): String = s"$work/oracle_checks.jsonl"

  def round(ctx: Ctx, seed: Long, tiny: Boolean, rec: Recorder, cold: Boolean): Unit = {
    val model = if (cold) None else Some(cocoaModel(ctx.spark))
    (0 until (if (cold) 1 else 2)).foreach(i => pass(ctx, seed * 10 + i, tiny, rec, model))
  }

  /** One pass; its results are checked when a `model` is given. */
  private def pass(ctx: Ctx, seed: Long, tiny: Boolean, rec: Recorder,
      model: Option[(Long, java.math.BigDecimal)]): Unit = {
    val spark = ctx.spark
    val root = ctx.freshDir("ops")
    val sf = s"$root/sf"
    val (tableRows, setupMs) = ctx.timed("setup")(SfGen.write(spark, sf, seed, if (tiny) 1000 else 1500))
    rec.add("setup_s", setupMs / 1000)
    SparkEntry.resetMemos()
    // The pass is the operation: a sum over every row moves less from
    // run to run than a median that falls between two rows' times.
    var readMs = 0.0
    val (results, passMs) = ctx.op(rec, "suite.pass") {
      rows.map { case (id, row) =>
        val fn = SparkEntry.queries(row)
        val (res, ms) = ctx.timed(s"row.$id")(rec.attempt {
          val df = fn(spark, sf)
          (df.schema, df.collect())
        })
        if (!cocoaRows(id)) readMs += ms
        System.err.println(f"perfbench: $id took $ms%.0f ms")
        spark.catalog.clearCache()
        id -> res
      }
    }
    rec.add("read_ms", readMs)
    rec.count("rows", tableRows.toDouble)
    rec.count("rows_s", passMs / 1000)
    if (model.isEmpty) return
    results.foreach {
      case (id, Some((schema, got))) if cocoaRows(id) =>
        val df = spark.createDataFrame(got.toSeq.asJava, schema)
          .select(CocoaSchema.warehouse.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
        rec.check(s"operator_suite $id against the last-writer-wins model",
          model.contains(Fingerprint.of(df, Model.columns)), 1)
      case (id, Some((schema, got))) =>
        spark.createDataFrame(got.toSeq.asJava, schema).coalesce(1).write.parquet(s"$root/out/$id")
      case _ =>
    }
    val sql = results.collect { case (id, Some(_)) if !cocoaRows(id) =>
      s"${Json.str(id)}: ${Json.str(SparkEntry.oracleSql(rows.toMap.apply(id)))}"
    }
    val line = s"""{"sf": ${Json.str(sf)}, "out": ${Json.str(s"$root/out")}, "rows": ${sql.mkString("{", ", ", "}")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(checksFile(ctx.work)), line + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  /** Fingerprint of the cocoa warehouse the p06 and s04 rows build: two
    * generated batches (seeds 41 and 42, keys 0-999 and 500-1499),
    * stamped 100 s apart, the later batch winning every shared key. */
  private def cocoaModel(spark: SparkSession): (Long, java.math.BigDecimal) = {
    def batch(seed: Long, offset: Long, ms: Long): DataFrame =
      Model.enrich(CocoaGen.shipments(spark, 1000, seed, idOffset = offset), lit(new Timestamp(ms)))
    val b2 = batch(42, 500, 1700000100000L)
    val b1 = batch(41, 0, 1700000000000L).join(b2.select("shipment_id"), Seq("shipment_id"), "left_anti")
    Fingerprint.of(b1.unionByName(b2), Model.columns)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
