package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

object SnapshotDoorsSpec {
  private sealed trait Outcome
  private final case class Rows(rows: Seq[String]) extends Outcome
  private final case class Refused(message: String) extends Outcome

  /** A version kind: its root, the version every door reads, the
    * committed (physical-name) rows live at that version, its rename
    * map and whether it carries deletion vectors. */
  private final case class Kind(name: String, root: String, v: Long,
      live: Seq[Row], renamed: Map[String, String] = Map.empty,
      dv: Boolean = false)

  /** A door: how it reads `k`, and whether it serves the version's
    * LOGICAL names (else the physical ones of the declared schema). */
  private final case class Door(name: String, logical: Boolean,
      appliesTo: Kind => Boolean, read: Kind => DataFrame)
}

/** Every read door against every kind of version: plain, hive-
  * partitioned, shallow clone, renamed plain, flat / partitioned /
  * renamed manifest, and plain / manifest carrying deletion vectors.
  * Each door must serve exactly the version's live rows (under the
  * names that door promises) or refuse with the pinned message — the
  * table is the contract one version resolver has to keep for all of
  * them. */
class SnapshotDoorsSpec extends AnyFunSuite {
  import SnapshotDoorsSpec._

  lazy val spark = SparkTestSession.spark

  private lazy val base: String = {
    val b = Files.createTempDirectory("wh_doors").toString
    spark.conf.set("spark.sql.catalog.gwh_doors", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gwh_doors.base", b)
    b
  }

  /** One generated batch, collected once so the committed rows and the
    * expected rows are the same values. */
  private def batch(seed: Int, n: Int): (DataFrame, Seq[Row]) = {
    val src = Enrich.enrich(CocoaGen.shipments(spark, n, seed = seed),
      new Timestamp(1000000L))
    val rows = src.collect().toSeq
    (spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), src.schema), rows)
  }

  private val rename = Map("quality_score" -> "qs")
  private val doomed = col("quality_score") < lit(8.0)
  private def survives(r: Row): Boolean = {
    val q = r.getAs[Any]("quality_score")
    q == null || q.asInstanceOf[Double] >= 8.0
  }

  /** A row set independent of column order: each row rendered as its
    * `name=value` pairs sorted by name, the rows sorted. */
  private def render(rows: Seq[Row], names: Map[String, String]): Seq[String] =
    rows.map { r =>
      r.schema.fieldNames.map(n => s"${names.getOrElse(n, n)}=${r.getAs[Any](n)}")
        .sorted.mkString(",")
    }.sorted

  private def outcome(df: => DataFrame): Outcome =
    try Rows(render(df.collect().toSeq, Map.empty))
    catch { case e: Exception => Refused(e.getMessage) }

  private def kinds: Seq[Kind] = {
    val (a, aRows) = batch(31, 40)
    val (b, bRows) = batch(32, 30)
    def root(n: String) = s"$base/$n"
    val plain = root("plain")
    Warehouse.commit(spark, plain, a)
    val parted = root("parted")
    Warehouse.commitPartitioned(spark, parted, a, Seq("region"))
    val cloneSrc = root("clone_src")
    Warehouse.commit(spark, cloneSrc, a)
    val clone = root("clone")
    Warehouse.cloneShallow(spark, cloneSrc, clone)
    val renamedPlain = root("renamed_plain")
    Warehouse.commit(spark, renamedPlain, a)
    Warehouse.renameColumns(spark, renamedPlain, rename)
    val flat = root("manifest")
    Warehouse.appendFiles(spark, flat, a)
    Warehouse.appendFiles(spark, flat, b)
    val partedManifest = root("parted_manifest")
    Warehouse.appendFiles(spark, partedManifest, a, partitionBy = Seq("region"))
    Warehouse.appendFiles(spark, partedManifest, b)
    val renamedManifest = root("renamed_manifest")
    Warehouse.appendFiles(spark, renamedManifest, a)
    Warehouse.appendFiles(spark, renamedManifest, b)
    Warehouse.renameColumns(spark, renamedManifest, rename)
    val plainDv = root("plain_dv")
    Warehouse.commit(spark, plainDv, a)
    Warehouse.deleteWhere(spark, plainDv, doomed)
    val manifestDv = root("manifest_dv")
    Warehouse.appendFiles(spark, manifestDv, a)
    Warehouse.appendFiles(spark, manifestDv, b)
    Warehouse.deleteWhere(spark, manifestDv, doomed)
    Seq(
      Kind("plain", plain, 0L, aRows),
      Kind("parted", parted, 0L, aRows),
      Kind("clone", clone, 0L, aRows),
      Kind("renamed_plain", renamedPlain, 1L, aRows, renamed = rename),
      Kind("manifest", flat, 1L, aRows ++ bRows),
      Kind("parted_manifest", partedManifest, 1L, aRows ++ bRows),
      Kind("renamed_manifest", renamedManifest, 2L, aRows ++ bRows,
        renamed = rename),
      Kind("plain_dv", plainDv, 0L, aRows.filter(survives), dv = true),
      Kind("manifest_dv", manifestDv, 1L, (aRows ++ bRows).filter(survives),
        dv = true))
  }

  private val doors: Seq[Door] = Seq(
    Door("readVersionLive", logical = true, _ => true,
      k => Warehouse.readVersionLive(spark, k.root, k.v)),
    Door("sql VERSION AS OF", logical = true, _ => true,
      k => spark.sql(s"SELECT * FROM gwh_doors.${k.name} VERSION AS OF ${k.v}")),
    Door("graft_time_travel", logical = true, _ => true,
      k => spark.sql(s"SELECT * FROM graft_time_travel('${k.root}', ${k.v})")),
    Door("readWithDv", logical = false, _ => true,
      k => Warehouse.readWithDv(spark, k.root)),
    Door("readVersion", logical = false, !_.dv,
      k => Warehouse.readVersion(spark, k.root, k.v)),
    Door("readMapped", logical = true, !_.dv,
      k => Warehouse.readMapped(spark, k.root, version = Some(k.v))))

  test("every read door serves each version kind's live rows under its promised names") {
    val all = kinds
    assert(all.exists(_.live.size < 40) && all.forall(_.live.nonEmpty),
      "the DV kinds must delete some rows and keep some")
    val mismatches = for {
      k <- all
      d <- doors if d.appliesTo(k)
      expected = Rows(render(k.live, if (d.logical) k.renamed else Map.empty))
      got = outcome(d.read(k))
      if got != expected
    } yield s"${k.name} via ${d.name}: " + (got match {
      case Refused(m) => s"refused: $m"
      case Rows(r) => s"${r.size} rows, expected ${k.live.size}; first" +
        s" difference ${r.diff(expected.rows).headOption.getOrElse("(missing rows)")}"
    })
    assert(mismatches.isEmpty, mismatches.mkString("\n", "\n", ""))
  }
}
