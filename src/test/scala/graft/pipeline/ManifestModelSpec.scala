package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestSession

/** Model-based property test for the manifest commits: seeded random
  * sequences of appendFiles / deleteWhereFiles / updateWhereFiles /
  * mergeFiles / optimizeFiles (plus a refused duplicate-key merge) run
  * against a flat and a `region`-partitioned table, and after EVERY
  * step the table must equal an in-memory `shipment_id -> row` model,
  * the returned version must say exactly whether anything matched, and
  * the session conf must be unchanged (the commits flip AQE off for
  * their metadata queries and must always restore it). Drawn with raw
  * ScalaCheck Gens, the [[MergeSpec]] pattern. */
class ManifestModelSpec extends AnyFunSuite {
  // an isolated SQL conf: the conf check must not see other suites' sets
  lazy val spark = SparkTestSession.spark.newSession()

  private val Seeds = 25
  private val Steps = 8

  private final case class Row(id: String, region: String, qty: Option[Int], price: Double)
  private final case class Gened(region: String, qty: Option[Int], price: Double)

  private sealed trait Op
  private final case class Append(rows: List[Gened]) extends Op
  private final case class DeleteQty(lo: Int, hi: Int) extends Op
  private final case class DeleteRegion(region: String) extends Op
  private final case class Update(lo: Int, hi: Int, swap: Boolean, price: Double) extends Op
  private final case class MergeOp(picks: List[Int], fresh: List[Gened], images: List[Gened]) extends Op
  private final case class MergeDup(pick: Int, row: Gened) extends Op
  private case object Optimize extends Op

  private val regions = Seq("north", "south", "east", "west")
  private val rowGen: Gen[Gened] = for {
    r <- Gen.oneOf(regions)
    q <- Gen.frequency(1 -> Gen.const(Option.empty[Int]), 9 -> Gen.choose(0, 99).map(Option(_)))
    p <- Gen.choose(0, 1000).map(_.toDouble)
  } yield Gened(r, q, p)
  private val rangeGen = for { a <- Gen.choose(0, 99); w <- Gen.choose(0, 30) } yield (a, a + w)
  private val opGen: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, rowGen)).map(Append(_)),
    2 -> rangeGen.map { case (lo, hi) => DeleteQty(lo, hi) },
    1 -> Gen.oneOf(regions).map(DeleteRegion(_)),
    2 -> (for {
      (lo, hi) <- rangeGen; s <- Gen.oneOf(true, false)
      p <- Gen.choose(0, 1000)
    } yield Update(lo, hi, s, p.toDouble)),
    3 -> (for {
      np <- Gen.choose(0, 5); picks <- Gen.listOfN(np, Gen.choose(0, 1000))
      images <- Gen.listOfN(np, rowGen)
      nf <- Gen.choose(0, 4); fresh <- Gen.listOfN(nf, rowGen)
    } yield MergeOp(picks, fresh, images)),
    1 -> (for { p <- Gen.choose(0, 1000); g <- rowGen } yield MergeDup(p, g)),
    1 -> Gen.const(Optimize))

  private val schema = StructType(Seq(
    StructField("shipment_id", StringType), StructField("region", StringType),
    StructField("qty", IntegerType), StructField("price", DoubleType)))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => org.apache.spark.sql.Row(r.id, r.region,
        r.qty.map(Int.box).orNull, r.price)), 2), schema)

  private def table(root: String): Map[String, Row] = {
    val got = Warehouse.read(spark, root, schema).collect().map { r =>
      Row(r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)), r.getDouble(3))
    }
    assert(got.map(_.id).distinct.length === got.length, "a key appears twice")
    got.map(r => r.id -> r).toMap
  }

  private def run(seed: Int, partitioned: Boolean): Int = {
    val root = Files.createTempDirectory("wh_model").toString
    var nextId = 0
    def fresh(g: Gened): Row = { nextId += 1; Row(f"k$nextId%05d", g.region, g.qty, g.price) }
    val init = Gen.listOfN(12, rowGen).apply(Gen.Parameters.default, Seed(seed * 7919L))
      .getOrElse(Nil).map(fresh)
    var model: Map[String, Row] = init.map(r => r.id -> r).toMap
    // snapshot BEFORE the first commit: a restore that pins an unset
    // key to its default would otherwise hide in every later snapshot
    val conf0 = spark.conf.getAll
    Warehouse.appendFiles(spark, root, frame(init),
      partitionBy = if (partitioned) Seq("region") else Nil)
    val ops = Gen.listOfN(Steps, opGen)
      .apply(Gen.Parameters.default, Seed(seed * 7919L + (if (partitioned) 2 else 1)))
      .getOrElse(fail(s"seed $seed drew no ops"))
    var refusals = 0
    ops.zipWithIndex.foreach { case (op, step) =>
      val ctx = s"seed $seed step $step ${if (partitioned) "partitioned" else "flat"}: $op"
      val before = Warehouse.currentVersion(spark, root)
      def inRange(lo: Int, hi: Int)(r: Row) = r.qty.exists(q => lo <= q && q <= hi)
      def expectVersion(matched: Boolean, got: Option[Long]): Unit =
        assert(got.isDefined === matched, s"$ctx: returned $got, matched=$matched")
      val keys = model.keys.toSeq.sorted
      op match {
        case Append(gs) =>
          val rows = gs.map(fresh)
          Warehouse.appendFiles(spark, root, frame(rows))
          model ++= rows.map(r => r.id -> r)
        case DeleteQty(lo, hi) =>
          val hit = model.values.filter(inRange(lo, hi))
          expectVersion(hit.nonEmpty,
            Warehouse.deleteWhereFiles(spark, root, col("qty").between(lo, hi)))
          model --= hit.map(_.id)
        case DeleteRegion(reg) =>
          val hit = model.values.filter(_.region == reg)
          expectVersion(hit.nonEmpty,
            Warehouse.deleteWhereFiles(spark, root, col("region") === lit(reg)))
          model --= hit.map(_.id)
        case Update(lo, hi, swap, p) =>
          val set: Map[String, Column] =
            if (swap) Map("qty" -> (col("qty") + 1), "price" -> col("qty"))
            else Map("price" -> lit(p))
          val hit = model.values.filter(inRange(lo, hi))
          expectVersion(hit.nonEmpty, Warehouse.updateWhereFiles(spark, root,
            col("qty").between(lo, hi), set))
          // every right-hand side reads the OLD row
          model ++= hit.map(r =>
            if (swap) r.id -> r.copy(qty = r.qty.map(_ + 1), price = r.qty.get.toDouble)
            else r.id -> r.copy(price = p))
        case MergeOp(picks, gs, images) =>
          val updates =
            if (keys.isEmpty) Nil
            else picks.map(i => keys(i % keys.size)).zip(images).toMap
              .map { case (k, g) => Row(k, g.region, g.qty, g.price) }.toSeq
          val src = updates ++ gs.map(fresh)
          Warehouse.mergeFiles(spark, root, frame(src), keyCol = "shipment_id")
          model ++= src.map(r => r.id -> r)
        case MergeDup(pick, g) =>
          val k = if (keys.isEmpty) "k_dup" else keys(pick % keys.size)
          val r = Row(k, g.region, g.qty, g.price)
          val e = intercept[IllegalArgumentException] {
            Warehouse.mergeFiles(spark, root, frame(Seq(r, r.copy(price = g.price + 1))),
              keyCol = "shipment_id")
          }
          assert(e.getMessage.contains("duplicate key"), ctx)
          assert(Warehouse.currentVersion(spark, root) === before,
            s"$ctx: a refused merge published")
          refusals += 1
        case Optimize =>
          val files = Warehouse.dataFilesOf(spark, root, before.get).size
          expectVersion(files >= 2, Warehouse.optimizeFiles(spark, root,
            targetFileBytes = 1L << 20, smallFileBytes = 1L << 20))
      }
      val conf1 = spark.conf.getAll
      val changed = (conf0.keySet ++ conf1.keySet).filter(k => conf0.get(k) != conf1.get(k))
      assert(changed.isEmpty, s"$ctx: session conf changed: " +
        changed.map(k => s"$k ${conf0.get(k)} -> ${conf1.get(k)}").mkString(", "))
      val got = table(root)
      val wrong = (got.keySet ++ model.keySet).filter(k => got.get(k) != model.get(k))
      assert(wrong.isEmpty, s"$ctx: table differs from the model at " +
        wrong.toSeq.sorted.take(5).map(k => s"$k: ${got.get(k)} vs ${model.get(k)}").mkString("; "))
    }
    refusals
  }

  test(s"manifest DML matches an in-memory model over $Seeds seeds x $Steps steps") {
    val refusals = (1 to Seeds).map(s => run(s, partitioned = false) + run(s, partitioned = true)).sum
    assert(refusals > 0, "the duplicate-key refusal must be exercised")
  }
}
