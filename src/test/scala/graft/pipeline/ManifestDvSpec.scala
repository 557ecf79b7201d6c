package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Deletion vectors × manifest commits — the LAST composition cell
  * (round 13): merge-on-read DELETE on a manifest table attaches an
  * in-place (file, pos) vector keyed by the ROOT-relative path
  * (manifest files span version dirs), no version bump, no rewrite —
  * O(matched) deletes on top of O(Δ) DML, the Delta pairing. Both
  * read doors apply the vectors; feeds stay pre-DV pure; applyDv and
  * compact remain the fold valves; manifest COMMITS atop DVs still
  * refuse loudly (a carried file's content must never change under a
  * reference). */
class ManifestDvSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(): String = Files.createTempDirectory("wh_mdv").toString
  private def batch(seed: Int, n: Int = 30, idOffset: Int = 0) =
    Enrich.enrich(CocoaGen.shipments(spark, n, seed = seed, idOffset = idOffset),
      new Timestamp(1000000L + seed * 1000L))
  private def hfs(root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
  private def ids(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("shipment_id").collect().map(_.getString(0)).toSet
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("deleteWhere on a manifest chain: in-place DV, no version bump, both doors live") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(1, n = 80).repartition(4))
    val v1 = Warehouse.appendFiles(spark, root, batch(2, n = 20, idOffset = 100))
    val m1 = Warehouse.manifestOf(hfs(root), root, v1).get
    val before = Warehouse.read(spark, root)
    val doomed = ids(before.filter(col("quality_score") < lit(8.0)))
    assert(doomed.nonEmpty && doomed.size < 100)
    val n = Warehouse.deleteWhere(spark, root, col("quality_score") < lit(8.0))
    assert(n === doomed.size)
    // in place: same version, same manifest, vectors on the side
    assert(Warehouse.currentVersion(spark, root) === Some(v1))
    assert(Warehouse.manifestOf(hfs(root), root, v1).get === m1,
      "the manifest must be untouched — the DV is the only new state")
    assert(hfs(root).exists(new Path(Warehouse.dvPath(root, v1))))
    // Scala door
    val live = Warehouse.readWithDv(spark, root)
    assert(live.count() === before.count() - n)
    assert(ids(live).intersect(doomed).isEmpty)
    // connector door (merge-on-read scan over the manifest file list)
    val conn = spark.read.format("graft").load(root)
    assert(conn.count() === before.count() - n)
    assert(rows(conn.select(before.columns.map(col).toSeq: _*)) === rows(live))
    // readVersionLive agrees (the graft_live/time-travel surface)
    assert(rows(Warehouse.readVersionLive(spark, root, v1)
      .select(before.columns.map(col).toSeq: _*)) === rows(live))
    // DELETES STACK: a second vector composes by union
    val n2 = Warehouse.deleteWhere(spark, root, col("region") === lit("Volta"))
    val live2 = spark.read.format("graft").load(root)
    assert(live2.count() === before.count() - n - n2)
    assert(live2.filter(col("region") === "Volta").count() === 0)
    // re-running is a no-op against the LIVE view
    assert(Warehouse.deleteWhere(spark, root, col("region") === lit("Volta")) === 0)
  }

  test("DV keys are ROOT-relative: same-named part files across version dirs never alias") {
    val root = freshRoot()
    // two single-file appends: both files are part-00000-… in v0/ and
    // v1/ — a name-only (or version-stripped) key would delete the
    // same ordinal in BOTH files
    Warehouse.appendFiles(spark, root, batch(3, n = 10).coalesce(1))
    Warehouse.appendFiles(spark, root,
      batch(4, n = 10, idOffset = 200).coalesce(1))
    val before = Warehouse.read(spark, root)
    // doom exactly the v1 half (idOffset rows)
    val doomed = ids(before).filter(_ >= "SHIP-0000000200")
    assert(doomed.size === 10)
    val n = Warehouse.deleteWhere(spark, root,
      col("shipment_id") >= lit("SHIP-0000000200"))
    assert(n === 10)
    val live = spark.read.format("graft").load(root)
    assert(live.count() === 10, "the v0 file's rows must ALL survive")
    assert(ids(live).forall(_ < "SHIP-0000000200"))
  }

  test("DVs on a PARTITIONED manifest: values intact, no cross-partition aliasing") {
    val root = freshRoot()
    Warehouse.commitPartitioned(spark, root, batch(5, n = 120), Seq("region"))
    Warehouse.appendFiles(spark, root, batch(6, n = 30, idOffset = 300))
    val before = Warehouse.read(spark, root)
    val doomed = ids(before.filter(
      col("region") === "Volta" && col("quality_score") < lit(9.0)))
    assert(doomed.nonEmpty)
    val n = Warehouse.deleteWhere(spark, root,
      col("region") === lit("Volta") && col("quality_score") < lit(9.0))
    assert(n === doomed.size)
    val live = spark.read.format("graft").load(root)
    assert(live.count() === before.count() - n)
    // partition values REAL in the merge-on-read read
    assert(live.filter(col("region").isNull).count() === 0)
    assert(rows(live.select(before.columns.map(col).toSeq: _*)) ===
      rows(Warehouse.readWithDv(spark, root)
        .select(before.columns.map(col).toSeq: _*)),
      "both doors serve the identical live row set")
  }

  test("feeds stay PRE-DV pure; manifest commits atop DVs refuse; applyDv folds clean") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(7, n = 40))
    val v1 = Warehouse.appendFiles(spark, root, batch(8, n = 10, idOffset = 400))
    Warehouse.publishChangeFeed(spark, root, v1)
    val feedBefore = rows(Warehouse.readChangeFeed(spark, root, v1))
    Warehouse.deleteWhere(spark, root, col("quality_score") < lit(8.5))
    // feed purity: a late re-publish must be byte-identical (pre-DV)
    hfs(root).delete(new Path(Warehouse.versionPath(root, v1))
      .getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(new Path(s"$root/_changes/v$v1")), true)
    Warehouse.publishChangeFeed(spark, root, v1)
    assert(rows(Warehouse.readChangeFeed(spark, root, v1)) === feedBefore,
      "feeds are a pure function of (root, v): DVs never leak in")
    // manifest commits atop DVs refuse loudly, naming the valve
    val e = intercept[IllegalArgumentException] {
      Warehouse.appendFiles(spark, root, batch(9, n = 1, idOffset = 500))
    }
    assert(e.getMessage.contains("applyDv"))
    // applyDv folds: a NEW plain DV-free version with the live rows
    val liveBefore = rows(Warehouse.readWithDv(spark, root))
    val v2 = Warehouse.applyDv(spark, root).get
    assert(v2 > v1)
    assert(Warehouse.dvRows(spark, root, v2).isEmpty)
    assert(rows(Warehouse.read(spark, root)) === liveBefore)
    // and the chain can resume manifest DML afterwards
    Warehouse.appendFiles(spark, root, batch(10, n = 2, idOffset = 600))
    assert(Warehouse.read(spark, root).count() === liveBefore.size + 2)
  }

  test("widened manifest chain + DV: missing columns null-fill through the DV reader") {
    val root = freshRoot()
    Warehouse.appendFiles(spark, root, batch(11, n = 20).coalesce(1))
    Warehouse.appendFiles(spark, root,
      batch(12, n = 5, idOffset = 700).withColumn("note", lit("fresh")))
    Warehouse.deleteWhere(spark, root, col("quality_score") < lit(8.0),
      schema = org.apache.spark.sql.types.StructType(
        CocoaSchema.warehouse.fields :+ org.apache.spark.sql.types.StructField(
          "note", org.apache.spark.sql.types.StringType)))
    val conn = spark.read.format("graft").load(root)
    assert(conn.columns.contains("note"))
    val expect = Warehouse.readWithDv(spark, root,
      org.apache.spark.sql.types.StructType(
        CocoaSchema.warehouse.fields :+ org.apache.spark.sql.types.StructField(
          "note", org.apache.spark.sql.types.StringType)))
    assert(conn.count() === expect.count())
    assert(conn.filter(col("note").isNull).count() ===
      expect.filter(col("note").isNull).count(),
      "pre-widening rows null-fill 'note' through the merge-on-read reader")
  }

  test("renamed manifest chains refuse merge-on-read deletes, naming the translating valve") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(13, n = 20))
    Warehouse.appendFiles(spark, root, batch(14, n = 5, idOffset = 800))
    Warehouse.renameColumns(spark, root, Map("region" -> "zone"))
    val e = intercept[IllegalArgumentException] {
      Warehouse.deleteWhere(spark, root, col("quality_score") < lit(8.0))
    }
    assert(e.getMessage.contains("deleteWhereFiles"))
  }

  test("restore of a manifest version with vectors commits exactly its live rows") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(15, n = 80).repartition(4))
    val v1 = Warehouse.appendFiles(spark, root, batch(16, n = 20, idOffset = 900))
    val doomed = ids(Warehouse.read(spark, root)
      .filter(col("quality_score") < lit(8.0)))
    assert(Warehouse.deleteWhere(spark, root,
      col("quality_score") < lit(8.0)) === doomed.size)
    assert(doomed.nonEmpty)
    val liveV1 = rows(Warehouse.readWithDv(spark, root))
    Warehouse.applyDv(spark, root)
    Warehouse.commit(spark, root, batch(17, n = 10, idOffset = 1000))
    val restored = Warehouse.restore(spark, root, v1)
    assert(Warehouse.currentVersion(spark, root) === Some(restored))
    val now = Warehouse.read(spark, root)
    // every carried file's live rows come back (the v1 dir alone holds
    // only the appended 20), and no vectored row resurrects
    assert(ids(now).intersect(doomed).isEmpty, "deleted rows came back")
    assert(rows(now) === liveV1)
  }
}
