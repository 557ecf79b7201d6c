package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{PlanWalk, SparkTestSession}

/** Merge-on-read deletion vectors: deletes never rewrite data files,
  * compose cumulatively, evaluate their predicate on the LIVE view,
  * read back as a broadcast anti join, fold into a clean snapshot via
  * applyDv, and age out with their snapshot under vacuum. */
class DeletionVectorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(): String = Files.createTempDirectory("wh_dv").toString
  private def batch(seed: Int, n: Int = 40) =
    Enrich.enrich(CocoaGen.shipments(spark, n, seed = seed), new Timestamp(1000000L))
  private def hfs(root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
  private def ids(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("shipment_id").collect().map(_.getString(0)).toSet

  private def dataFileInventory(root: String, v: Long): Seq[(String, Long)] = {
    val fs = hfs(root)
    fs.listStatus(new Path(Warehouse.versionPath(root, v))).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.getName, s.getLen)).sortBy(_._1)
  }

  test("DV delete on a hive-partitioned snapshot never aliases across partitions") {
    // A partitioned write REUSES part-file names across partition
    // dirs, so a name-only (file, pos) key would delete the same
    // ordinal in EVERY same-named file — the key must be the
    // dir-relative path. Pin with a delete confined to a predicate
    // whose survivors are exactly countable.
    import org.apache.spark.sql.functions.{col, lit}
    val root = freshRoot()
    Warehouse.commitPartitioned(spark, root, batch(9, n = 200), Seq("region"))
    val total = Warehouse.read(spark, root).count()
    val doomedIds = ids(Warehouse.read(spark, root)
      .filter(col("region") === lit("Volta")))
    assert(doomedIds.nonEmpty && doomedIds.size < total)
    Warehouse.deleteWhere(spark, root, col("region") === lit("Volta"))
    val live = Warehouse.readWithDv(spark, root)
    assert(live.count() === total - doomedIds.size,
      "exactly the predicate rows go — no cross-partition aliasing")
    assert(ids(live).intersect(doomedIds).isEmpty)
  }

  test("compaction FOLDS deletion vectors: compacted snapshot is live and DV-free") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(7).repartition(4))
    Warehouse.deleteWhere(spark, root, col("quality_score") < lit(8.0))
    val live = ids(Warehouse.readWithDv(spark, root))
    assert(live.size < 40, "fixture must delete something")
    val v = Warehouse.compact(spark, root).get
    // a RAW read of the compacted version equals the live set — the
    // deleted rows were folded out, never resurrected
    assert(ids(Warehouse.readVersion(spark, root, v)) === live)
    // and the compacted version carries no vectors of its own
    assert(!hfs(root).exists(new Path(Warehouse.dvPath(root, v))) ||
      hfs(root).listStatus(new Path(Warehouse.dvPath(root, v))).isEmpty)
  }

  test("delete removes exactly the predicate-true rows and rewrites no data file") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(1).repartition(4))
    val before = Warehouse.read(spark, root)
    val expectGone = ids(before.filter(col("quality_score") < 8.3))
    assert(expectGone.nonEmpty, "fixture must exercise a non-empty delete")
    val inventoryBefore = dataFileInventory(root, 0L)

    val nDeleted = Warehouse.deleteWhere(spark, root, col("quality_score") < 8.3)
    assert(nDeleted === expectGone.size.toLong)
    assert(dataFileInventory(root, 0L) === inventoryBefore,
      "merge-on-read: the snapshot's data files must be untouched")

    val live = Warehouse.readWithDv(spark, root)
    assert(ids(live) === ids(before) -- expectGone)
    // survivors are byte-identical, not merely id-identical
    assert(live.exceptAll(before.filter(!coalesce(col("quality_score") < 8.3,
      lit(false)))).count() === 0)
  }

  test("second delete composes and is evaluated on the live view") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(2).repartition(4))
    val before = Warehouse.read(spark, root)
    Warehouse.deleteWhere(spark, root, col("quality_score") < 8.3)
    // overlapping predicate: rows already deleted must not be
    // re-counted by the second call (its predicate runs post-DV)
    val expectSecond = ids(before.filter(
      col("quality_score") >= 8.3 && col("bean_type") === "Criollo"))
    val n2 = Warehouse.deleteWhere(spark, root, col("bean_type") === "Criollo")
    assert(n2 === expectSecond.size.toLong)
    val live = Warehouse.readWithDv(spark, root)
    assert(ids(live) === ids(before.filter(
      col("quality_score") >= 8.3 && col("bean_type") =!= "Criollo")))
  }

  test("a no-match delete publishes an empty part and changes nothing") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(3).repartition(2))
    val before = Warehouse.readWithDv(spark, root).collect().toSeq
    assert(Warehouse.deleteWhere(spark, root, col("region") === "Atlantis") === 0L)
    assert(Warehouse.readWithDv(spark, root).collect().toSeq.sortBy(_.getString(0))
      === before.sortBy(_.getString(0)))
  }

  test("applyDv folds DVs into a clean snapshot equal to the merge-on-read view") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(4).repartition(4))
    Warehouse.deleteWhere(spark, root, col("quality_score") < 8.3)
    val mor = Warehouse.readWithDv(spark, root).collect().toSeq.sortBy(_.getString(0))
    val v1 = Warehouse.applyDv(spark, root)
    assert(v1 === Some(1L))
    // the new snapshot is DV-free: plain read == readWithDv == the
    // pre-apply merge-on-read view
    val plain = Warehouse.read(spark, root).collect().toSeq.sortBy(_.getString(0))
    val live = Warehouse.readWithDv(spark, root).collect().toSeq.sortBy(_.getString(0))
    assert(plain === mor)
    assert(live === mor)
    // time travel: v0 still carries the PRE-delete image
    val v0 = spark.read.schema(CocoaSchema.warehouse)
      .parquet(Warehouse.versionPath(root, 0L))
    assert(v0.count() > mor.size)
    // nothing left to apply
    assert(Warehouse.applyDv(spark, root) === None)
  }

  test("applyDv on a DV-free warehouse is None; delete on empty root is loud") {
    val root = freshRoot()
    assert(Warehouse.applyDv(spark, root) === None)
    val err = intercept[IllegalStateException] {
      Warehouse.deleteWhere(spark, root, lit(true))
    }
    assert(err.getMessage.contains("no committed snapshot"))
    Warehouse.commit(spark, root, batch(5))
    assert(Warehouse.applyDv(spark, root) === None,
      "no deletes ever ran — nothing to apply")
  }

  test("vacuum prunes a pruned snapshot's DVs and keeps survivors' DVs") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(6).repartition(2)) // v0
    Warehouse.deleteWhere(spark, root, col("quality_score") < 8.3) // DVs on v0
    Warehouse.commit(spark, root, batch(7).repartition(2)) // v1
    Warehouse.deleteWhere(spark, root, col("quality_score") < 8.0) // DVs on v1
    Warehouse.commit(spark, root, batch(8)) // v2
    val fs = hfs(root)
    Warehouse.vacuum(spark, root, keepLast = 2)
    assert(!fs.exists(new Path(Warehouse.versionPath(root, 0L))))
    assert(!fs.exists(new Path(Warehouse.dvPath(root, 0L))),
      "v0's deletion vectors must be pruned with v0")
    assert(fs.exists(new Path(Warehouse.dvPath(root, 1L))),
      "v1 is retained — its deletion vectors must survive")
  }

  test("restore re-commits an old snapshot forward, DV-applied; history stays intact") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(10).repartition(2)) // v0
    Warehouse.deleteWhere(spark, root, col("quality_score") < 8.3)
    val v0Live = ids(Warehouse.readWithDv(spark, root))
    Warehouse.commit(spark, root, batch(11)) // v1
    val v2 = Warehouse.restore(spark, root, 0L)
    assert(v2 === 2L, "restore is a forward commit, never a pointer rollback")
    assert(ids(Warehouse.read(spark, root)) === v0Live,
      "restore reproduces v0 AS A READER SAW IT — deletion vectors applied")
    // the undone version stays time-travelable for the post-mortem
    assert(hfs(root).exists(new Path(Warehouse.versionPath(root, 1L))))
    // loud: restoring the current version; restoring a missing one
    intercept[IllegalArgumentException] { Warehouse.restore(spark, root, 2L) }
    intercept[IllegalStateException] { Warehouse.restore(spark, root, 99L) }
  }

  test("fence: a commit landing mid-delete retracts the DV part and fails loudly") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(12).repartition(2)) // v0
    val doomed = Warehouse.readWithDv(spark, root)
      .filter(col("quality_score") < 8.3)
      .select(substring_index(col("_metadata.file_path"), "/", -1).as("file"),
        col("_metadata.row_index").as("pos"))
    // the race, made deterministic: current moves v0 -> v1 between
    // the deleter's version resolution and its part publish
    Warehouse.commit(spark, root, batch(13)) // v1
    val err = intercept[java.util.ConcurrentModificationException] {
      Warehouse.publishDvPart(spark, root, 0L, doomed)
    }
    assert(err.getMessage.contains("v0 -> v1"))
    // the lost-update part must not be left visible: v0 readers (time
    // travel) still see the pre-delete image, v1 readers are untouched
    val fs = hfs(root)
    val parts = fs.listStatus(new Path(Warehouse.dvPath(root, 0L)))
      .filter(_.getPath.getName.startsWith("d_"))
    assert(parts.isEmpty, "retraction must remove the published part")
    assert(Warehouse.readWithDv(spark, root).count()
      === Warehouse.read(spark, root).count())
  }

  test("readWithDv sizes the broadcast decision from complete parts only") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(14).repartition(2))
    Warehouse.deleteWhere(spark, root, col("quality_score") < 8.3)
    // plant an in-flight staging dir big enough to blow any sane
    // bound; a whole-dir content summary would count it and drop the
    // broadcast hint even though the read never touches it
    val fs = hfs(root)
    val junk = new Path(Warehouse.dvPath(root, 0L), ".stage_d_inflight")
    fs.mkdirs(junk)
    val out = fs.create(new Path(junk, "blob"))
    out.write(new Array[Byte](512 * 1024)); out.close()
    val live = Warehouse.readWithDv(spark, root, broadcastDvMaxBytes = 256 * 1024)
    live.collect()
    val bhj = PlanWalk.collectAll(live.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec => Seq(b.joinType.toString)
    }
    assert(bhj.exists(_.toLowerCase.contains("anti")),
      s"staging junk must not defeat the KB-scale DV broadcast, got: $bhj")
  }

  test("in-place DV deletes surface in the NEXT commit's feed; feeds replay deterministically") {
    // Feeds are pure functions of (root, v): applying DVs to the feed
    // inputs would (a) make a late re-publish disagree with the
    // original and (b) swallow the delete transition forever — the
    // old side of feed v+1 would already lack the doomed rows, so no
    // feed ever tells a consumer replica to drop them.
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(21))           // v0
    Warehouse.commit(spark, root, batch(22, n = 45))   // v1
    Warehouse.publishChangeFeed(spark, root, 1L)
    val feed1Before = Warehouse.readChangeFeed(spark, root, 1L)
      .collect().map(_.toString).sorted.toSeq
    val doomed = ids(Warehouse.read(spark, root)
      .filter(col("quality_score") < lit(8.3)))
    assert(doomed.nonEmpty && doomed.size < 45, "fixture must split")
    Warehouse.deleteWhere(spark, root, col("quality_score") < lit(8.3))
    // replay determinism: re-publishing feed v1 AFTER the in-place
    // delete must reproduce the original content byte-for-byte
    hfs(root).delete(new Path(Warehouse.changePath(root, 1L)), true)
    Warehouse.publishChangeFeed(spark, root, 1L)
    assert(Warehouse.readChangeFeed(spark, root, 1L)
      .collect().map(_.toString).sorted.toSeq === feed1Before,
      "a late feed re-publish must not depend on DVs attached since")
    // the next data commit derives from the LIVE read — ITS feed is
    // where the deletes surface as explicit delete events
    Warehouse.commit(spark, root, Warehouse.readWithDv(spark, root)) // v2
    Warehouse.publishChangeFeed(spark, root, 2L)
    val feed2 = Warehouse.readChangeFeed(spark, root, 2L)
    val deletes = feed2.filter(col("change_type") === "delete")
      .select("shipment_id").collect().map(_.getString(0)).toSet
    assert(deletes === doomed,
      "every DV-deleted key must appear as a delete event exactly once")
  }

  test("merge-on-read plan: the DV side joins as a broadcast anti join") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(9).repartition(2))
    Warehouse.deleteWhere(spark, root, col("quality_score") < 8.3)
    val live = Warehouse.readWithDv(spark, root)
    live.collect()
    val anti = PlanWalk.collectAll(live.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec => Seq(b.joinType.toString)
    }
    assert(anti.exists(_.toLowerCase.contains("anti")),
      s"expected a broadcast LeftAnti join applying the DV, got: $anti")
  }

  test("an in-flight DV staging dir is not a deletion vector to the connector") {
    // a running (or crashed) deleteWhere leaves `_dv/v<N>/.stage_d_*`
    // until its rename or a vacuum: no COMPLETE part exists, so the
    // SQL read must keep the builtin parquet scan (zone maps, DPP)
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(12))
    assert(hfs(root).mkdirs(new Path(Warehouse.dvPath(root, 0L), ".stage_d_x")))
    val sql = spark.read.format("graft").load(root)
    val plan = sql.queryExecution.executedPlan.toString
    assert(!plan.contains("graft-dv"), s"staging dir read as a DV scan:\n$plan")
    val want = Warehouse.read(spark, root)
    assert(sql.select(want.columns.map(col): _*).collect().map(_.toString).sorted ===
      want.collect().map(_.toString).sorted)
  }
}
