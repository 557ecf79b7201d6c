package perfbench

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.{CocoaGen, CocoaPipeline, CocoaSchema, Warehouse}

/** One workload: `round` builds fresh inputs (timed as set-up), runs a
  * fixed closed-loop operation sequence (timed), then checks the
  * program's outputs against an independent plain-Spark model
  * (untimed). The first round of a run, the cold round (`cold`),
  * runs fewer operations to warm the JVM up; it
  * feeds no end-to-end metric and is not checked, beyond counting
  * operations that throw. `tiny` shrinks every size for the smoke
  * test. */
trait Workload {
  def name: String
  def round(ctx: Ctx, seed: Long, tiny: Boolean, rec: Recorder, cold: Boolean): Unit
}

object Workloads {
  val byName: Map[String, Workload] =
    Seq(HourlyUpsert, MaintenanceDml, OperatorSuite).map(w => w.name -> w).toMap
}

/** Plain-Spark helpers shared by the workloads and their models. None
  * of them goes through the program's Ingest, Enrich, Merge or
  * Warehouse code. */
object Model {
  val baseMs = 1735689600000L // 2025-01-01T00:00:00Z
  val hourMs = 3600L * 1000
  val columns: Seq[String] = CocoaSchema.warehouse.fieldNames.toSeq

  def hour(h: Long): Timestamp = new Timestamp(baseMs + h * hourMs)

  def key(i: Long): String = f"SHIP-$i%010d"

  /** The warehouse image of generated shipments, stamped at `at`. */
  def enrich(df: DataFrame, at: Column, keep: Seq[String] = Nil): DataFrame =
    df.withColumn("shipment_value_usd", round(col("shipment_weight_kg") * lit(2.5), 2))
      .withColumn("processed_at", at)
      .select((columns ++ keep).map(col): _*)

  /** `n` generated rows with keys `offset .. offset+n-1`. */
  def shipments(spark: SparkSession, n: Long, seed: Long, offset: Long): DataFrame =
    CocoaGen.shipments(spark, n, seed, idOffset = offset, keySpace = n)

  /** The dashboard aggregates of the reference's Metabase page. Extra
    * leading `by` columns compute one result per value of them at once
    * (the checks' models); every sum is exact, so grouping does not
    * change a value. */
  def valueByRegion(df: DataFrame, by: String*): DataFrame =
    df.groupBy((by :+ "region").map(col): _*).agg(sum(col("shipment_value_usd")).as("total_value_usd"))
      .orderBy((by :+ "region").map(col): _*)

  def qualityTrends(df: DataFrame, by: String*): DataFrame =
    df.groupBy(by.map(col) ++ Seq(date_trunc("week", col("timestamp")).as("week"), col("region")): _*)
      .agg(count(lit(1)).as("n_shipments"),
        (sum(floor(col("quality_score") * 100 + lit(0.5))) / 100.0).as("sum_quality"))
      .orderBy((by ++ Seq("week", "region")).map(col): _*)

  def regionDistribution(df: DataFrame, by: String*): DataFrame =
    df.groupBy((by :+ "region").map(col): _*).agg(count(lit(1)).as("n_shipments"))
      .orderBy((by :+ "region").map(col): _*)

  /** Rows of a result computed with one leading `by` column, split by
    * its value and with that column dropped. */
  def splitBy(rows: Array[Row]): Map[Int, Array[Row]] =
    rows.groupBy(_.getInt(0)).map { case (k, rs) => k -> rs.map(r => Row.fromSeq(r.toSeq.tail)) }

  /** Bytes of live data files a frame reads. */
  def liveBytes(ctx: Ctx, df: DataFrame): Long = {
    val conf = ctx.spark.sessionState.newHadoopConf()
    df.inputFiles.map { f => val p = new Path(f); p.getFileSystem(conf).getFileStatus(p).getLen }.sum
  }

  /** Records a round's write and space amplification. The bytes of the
    * rows added or changed are counted at the live version's bytes per
    * row, the warehouse's own parquet encoding of those rows. */
  def amplification(ctx: Ctx, rec: Recorder, root: String, table: DataFrame,
      liveRows: Long, rowsChanged: Long, published: Long): Unit = {
    val live = liveBytes(ctx, table)
    rec.count("bytes_published", published.toDouble)
    rec.count("bytes_changed", rowsChanged * live.toDouble / liveRows.max(1L))
    rec.add("space_amp", ctx.bytesUnder(root).toDouble / live)
  }

  type Column = org.apache.spark.sql.Column
}

/** The reference's hourly drop and the dashboard on top of it: one
  * `CocoaPipeline.runBatch` per hour over ten landing CSVs, 30% of
  * whose keys re-land earlier keys, into a warehouse that starts empty
  * each round (one round is a few hours of one day). After each batch
  * the Metabase dashboard refreshes on the new version: the p02-p04
  * aggregates via `Warehouse.read`, a point lookup by `shipment_id`,
  * time travel to the day's first version via `Warehouse.readVersion`,
  * and the p02 aggregate plus a `VERSION AS OF` query through SQL on
  * `GraftCatalog`. */
object HourlyUpsert extends Workload {
  val name = "hourly_upsert"
  private var tables = 0

  def round(ctx: Ctx, seed: Long, tiny: Boolean, rec: Recorder, cold: Boolean): Unit = {
    val (fullBatches, files, rowsPerFile) = if (tiny) (2, 3, 40) else (4, 10, 2000)
    val batches = if (cold) 1 else fullBatches
    val relandFiles = math.max(1, math.round(files * 0.3).toInt)
    val freshFiles = files - relandFiles
    val spark = ctx.spark
    val root = ctx.freshDir("hourly")
    // The catalog is bound to one base dir for the session's life, so
    // every round's warehouse is a new table under it.
    val catalogBase = s"${ctx.work}/dashboard"
    tables += 1
    val tableName = s"cocoa_$tables"
    val dirs = CocoaPipeline.Dirs(s"$root/landing", s"$root/staging", s"$catalogBase/$tableName", s"$root/archive")
    spark.conf.set("spark.sql.catalog.gwh", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gwh.base", catalogBase)
    val rng = new scala.util.Random(seed)
    val batchRows = files.toLong * rowsPerFile
    // Per batch, the generator calls that land its files: (seed, first
    // key, file count). Fresh keys are batch-unique; re-landed keys are
    // one contiguous run of an earlier batch's fresh keys.
    val gens: Seq[Seq[(Long, Long, Int)]] = (0 until batches).map { b =>
      val fresh = (seed * 100 + 2 * b, b * batchRows, if (b == 0) files else freshFiles)
      if (b == 0) Seq(fresh)
      else {
        val src = rng.nextInt(b)
        val srcFresh = (if (src == 0) files else freshFiles) * rowsPerFile
        val first = src * batchRows + rng.nextInt(srcFresh - relandFiles * rowsPerFile + 1)
        Seq(fresh, (seed * 100 + 2 * b + 1, first, relandFiles))
      }
    }
    // Set-up lands each batch's files in its own timed step.
    gens.zipWithIndex.foreach { case (gs, b) =>
      val (_, setupMs) = ctx.timed("setup") {
        gs.foreach { case (s, first, n) =>
          CocoaGen.writeLandingFiles(spark, s"$root/in/b$b", n, rowsPerFile, s,
            idOffset = first, keySpace = n.toLong * rowsPerFile)
        }
      }
      rec.add("setup_s", setupMs / 1000)
    }
    ctx.tracer.foreach { t =>
      t.pathLayers = Seq(dirs.staging -> "stage", dirs.warehouse -> "commit")
      t.archiveDirs :+= dirs.archive
      t.landingDirs :+= dirs.landing
    }

    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    var published = 0L
    var firstVersion = 0L
    val sqlAgg = s"SELECT region, sum(shipment_value_usd) AS total_value_usd FROM gwh.$tableName"
    def current = ctx.span("wh.resolve")(Warehouse.read(spark, dirs.warehouse))
    // Per batch: the key looked up and every dashboard result, by query.
    val shown = (0 until batches).map { b =>
      fs.mkdirs(new Path(dirs.landing))
      fs.listStatus(new Path(s"$root/in/b$b")).map(_.getPath).filter(_.getName.endsWith(".csv"))
        .foreach(p => fs.rename(p, new Path(dirs.landing, p.getName)))
      val (res, ms) = ctx.op(rec, "pipeline") {
        rec.attempt(CocoaPipeline.runBatch(spark, dirs, Model.hour(b)))
      }
      rec.count("rows", batchRows.toDouble)
      rec.count("rows_s", ms / 1000)
      res.foreach { r =>
        rec.count("ingest_files", r.filesProcessed.size + r.filesQuarantined.size)
        rec.check(s"batch $b processed ${r.filesProcessed.size} files, merged ${r.rowsMerged} rows",
          r.filesProcessed.size == files && r.filesQuarantined.isEmpty && r.rowsMerged == batchRows, 1)
        r.version.foreach { v =>
          published += ctx.bytesUnder(Warehouse.versionPath(dirs.warehouse, v))
          if (b == 0) firstVersion = v
        }
      }
      val key = Model.key(rng.nextInt(((b + 1) * batchRows).toInt))
      val queries: Seq[(String, String, () => Array[Row])] = Seq(
        ("agg", "p02", () => Model.valueByRegion(current).collect()),
        ("agg", "p03", () => Model.qualityTrends(current).collect()),
        ("agg", "p04", () => Model.regionDistribution(current).collect()),
        ("lookup", "lookup", () => current.filter(col("shipment_id") === key).collect()),
        ("time_travel", "first", () => Model.valueByRegion(
          ctx.span("wh.resolve")(Warehouse.readVersion(spark, dirs.warehouse, firstVersion))).collect()),
        ("sql", "p02", () => ctx.span("sql.resolve")(
          spark.sql(s"$sqlAgg GROUP BY region ORDER BY region")).collect()),
        ("sql_time_travel", "first", () => ctx.span("sql.resolve")(
          spark.sql(s"$sqlAgg VERSION AS OF $firstVersion GROUP BY region ORDER BY region")).collect()))
      val got = queries.map { case (kind, want, run) =>
        val (out, qms) = ctx.timed(s"query.$kind", "read")(rec.attempt(run()))
        rec.add("read_ms", qms)
        (kind, want, out)
      }
      (key, got)
    }

    // The cold round only warms the JVM up; its results are not checked.
    if (cold) return

    // Independent last-writer-wins recomputation from the generator:
    // the table the dashboard should have shown after each batch `__at`.
    val landedRows = gens.zipWithIndex.flatMap { case (gs, b) =>
      gs.map { case (s, first, n) =>
        Model.shipments(spark, n.toLong * rowsPerFile, s, first).withColumn("__b", lit(b))
      }
    }.reduce(_ unionByName _)
    val after = (0 until batches).map { b =>
      landedRows.filter(col("__b") <= b)
        .withColumn("__rn", row_number().over(Window.partitionBy("shipment_id").orderBy(col("__b").desc)))
        .filter(col("__rn") === 1).withColumn("__at", lit(b))
    }.reduce(_ unionByName _)
    val models = Model.enrich(after, timestamp_millis(lit(Model.baseMs) + col("__b") * Model.hourMs),
      keep = Seq("__at")).localCheckpoint()
    val want = Map(
      "p02" -> Model.splitBy(Model.valueByRegion(models, "__at").collect()),
      "p03" -> Model.splitBy(Model.qualityTrends(models, "__at").collect()),
      "p04" -> Model.splitBy(Model.regionDistribution(models, "__at").collect()))
    val lookups = Model.splitBy(models.filter(col("shipment_id").isin(shown.map(_._1): _*))
      .select((col("__at") +: Model.columns.map(col)): _*).collect())
    shown.zipWithIndex.foreach { case ((key, got), b) =>
      got.foreach { case (kind, w, out) =>
        val expect = w match {
          case "lookup" => lookups.getOrElse(b, Array.empty[Row]).filter(_.getString(0) == key)
          case "first" => want("p02")(0)
          case q => want(q)(b)
        }
        out.foreach(g => rec.check(s"hourly_upsert dashboard $kind after batch $b", g.sameElements(expect), 1))
      }
    }
    val expected = models.filter(col("__at") === batches - 1).select(Model.columns.map(col): _*)
    val table = Warehouse.read(spark, dirs.warehouse)
    val fp = Fingerprint.of(table, Model.columns)
    rec.check("hourly_upsert final table fingerprint", fp == Fingerprint.of(expected, Model.columns), batches)
    Model.amplification(ctx, rec, dirs.warehouse, table, fp._1, batches * batchRows, published)
  }
}

/** File-granular maintenance on a manifest-mode table seeded through
  * `Warehouse.appendFiles`: a rotation of `deleteWhereFiles` over a
  * key range (a GDPR erasure), `updateWhereFiles` and `mergeFiles`
  * (late corrections), each followed by a dashboard read of the new
  * version. */
object MaintenanceDml extends Workload {
  val name = "maintenance_dml"

  def round(ctx: Ctx, seed: Long, tiny: Boolean, rec: Recorder, cold: Boolean): Unit = {
    val (chunk, fullAppends, fullOps, width, mergeRows) =
      if (tiny) (2000L, 2, 3, 40, 50) else (30000L, 3, 12, 400, 800)
    // The cold round seeds one chunk: the first append pays the cold
    // start, the others would only add to the run's length.
    val appends = if (cold) 1 else fullAppends
    val ops = if (cold) 3 else fullOps
    val rows = chunk * appends
    val spark = ctx.spark
    val rng = new scala.util.Random(seed)
    val root = ctx.freshDir("dml")
    val seeded = (0 until appends).map(i =>
      Model.enrich(Model.shipments(spark, chunk, seed * 100 + i, i * chunk), lit(Model.hour(0))))
    seeded.foreach { df =>
      val (_, setupMs) = ctx.timed("setup")(Warehouse.appendFiles(spark, root, df))
      rec.add("setup_s", setupMs / 1000)
    }

    // The model applies each operation to a plain frame; the set of live
    // keys, kept beside it, counts the rows each operation changes.
    var model = seeded.reduce(_ unionByName _)
    val liveKeys = scala.collection.mutable.BitSet((0 until rows.toInt): _*)
    var rowsChanged = 0L
    var published = 0L
    var live = if (ctx.tracer.isDefined) Warehouse.read(spark, root).inputFiles.toSet else Set.empty[String]
    var lastRead: Option[Array[Row]] = None
    (0 until ops).foreach { j =>
      val lo = rng.nextInt((rows - width).toInt).toLong
      val inRange = col("shipment_id").between(Model.key(lo), Model.key(lo + width - 1))
      val (version, ms) = j % 3 match {
        case 0 =>
          val hit = liveKeys.range(lo.toInt, (lo + width).toInt).toList
          rowsChanged += hit.size
          liveKeys --= hit
          model = model.filter(!inRange)
          ctx.op(rec, "dml.delete")(rec.attempt(Warehouse.deleteWhereFiles(spark, root, inRange)))
        case 1 =>
          val bump = least(col("quality_score") + lit(0.05), lit(9.8))
          rowsChanged += liveKeys.range(lo.toInt, (lo + width).toInt).size
          model = model.withColumn("quality_score",
            when(coalesce(inRange, lit(false)), bump.cast("double")).otherwise(col("quality_score")))
          ctx.op(rec, "dml.update")(rec.attempt(
            Warehouse.updateWhereFiles(spark, root, inRange, Map("quality_score" -> bump))))
        case _ =>
          val first = rng.nextInt((rows - mergeRows).toInt)
          val src = Model.enrich(Model.shipments(spark, mergeRows, seed * 100 + 50 + j, first),
            lit(Model.hour(j + 1)))
          model = model.join(src.select("shipment_id"), Seq("shipment_id"), "left_anti").unionByName(src)
          liveKeys ++= (first until first + mergeRows)
          rowsChanged += mergeRows
          ctx.op(rec, "dml.merge")(rec.attempt(Some(Warehouse.mergeFiles(spark, root, src))))
      }
      rec.count("rows_s", ms / 1000)
      version.flatten.foreach(v => published += ctx.bytesUnder(Warehouse.versionPath(root, v)))
      val (read, readMs) = ctx.timed("read", "read") {
        rec.attempt {
          val df = ctx.span("wh.resolve")(Warehouse.read(spark, root))
          Model.valueByRegion(df).collect()
        }
      }
      rec.add("read_ms", readMs)
      lastRead = read
      if (ctx.tracer.isDefined) {
        val now = Warehouse.read(spark, root).inputFiles.toSet
        rec.count("files_rewritten", (live -- now).size)
        rec.add("live_files", now.size)
        live = now
      }
    }

    if (cold) return
    val table = Warehouse.read(spark, root)
    val expected = model.localCheckpoint()
    val got = Fingerprint.of(table, Model.columns)
    rec.check("maintenance_dml final table fingerprint",
      got == Fingerprint.of(expected, Model.columns) && got._1 == liveKeys.size, ops)
    rec.check("maintenance_dml last dashboard read",
      lastRead.exists(_.sameElements(Model.valueByRegion(expected).collect())), 1)
    rec.count("rows", rowsChanged.toDouble)
    Model.amplification(ctx, rec, root, table, got._1, rowsChanged, published)
  }
}
