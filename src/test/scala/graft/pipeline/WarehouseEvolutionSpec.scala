package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Additive schema evolution across warehouse versions: a widened
  * batch commits under the new schema, old snapshots stay readable
  * under either era's schema (time travel across the boundary), and
  * the merge null-fills the new column for pre-evolution batches. */
class WarehouseEvolutionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val widened: StructType = StructType(CocoaSchema.warehouse.fields :+
    StructField("origin_certified", BooleanType, nullable = true))

  private def batch(seed: Int, n: Int = 20, ts: Long = 1000000L) =
    Enrich.enrich(CocoaGen.shipments(spark, n, seed = seed), new Timestamp(ts))

  // parquet reads relax nullability, so schema identity here means
  // names + types in order
  private def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq

  test("compact preserves an evolved column's data (snapshot-own schema)") {
    val root = Files.createTempDirectory("wh_evo").toString
    val evolved = batch(7).withColumn("origin_certified", lit(true))
    assert(Warehouse.commit(spark, root, evolved.repartition(6)) === 0L)
    assert(Warehouse.compact(spark, root) === Some(1L))
    val cur = Warehouse.read(spark, root, widened)
    assert(cur.filter(col("origin_certified") === true).count() === 20,
      "compaction must carry the evolved column's DATA, not null-fill it")
  }

  test("additive column: commit, time travel both ways, merge null-fill") {
    val root = Files.createTempDirectory("wh_evo").toString

    // v0: the original era
    assert(Warehouse.commit(spark, root, batch(1)) === 0L)

    // era 2: batch 2 carries the NEW column; target read WIDENED
    val updates2 = batch(2, ts = 2000000L)
      .withColumn("origin_certified", lit(true))
    val target = Warehouse.read(spark, root, widened)
    assert(shape(target.schema) === shape(widened),
      "old snapshot reads under the widened schema")
    assert(target.filter(col("origin_certified").isNotNull).count() === 0,
      "pre-evolution rows null-fill the new column")
    val merged = Merge.upsert(target, updates2, CocoaSchema.mergeKey,
      col("processed_at"), Seq(col("timestamp")))
    assert(Warehouse.commit(spark, root, merged) === 1L)

    // current read under the widened schema: batch-2 rows carry the
    // value, surviving v0 rows carry null
    val cur = Warehouse.read(spark, root, widened)
    assert(shape(cur.schema) === shape(widened))
    assert(cur.filter(col("origin_certified") === true).count() === 20)
    assert(cur.filter(col("origin_certified").isNull).count() === cur.count() - 20)

    // p05-style time travel: v0 under its own era's schema returns
    // exactly the old columns
    val v0 = spark.read.schema(CocoaSchema.warehouse)
      .parquet(Warehouse.versionPath(root, 0L))
    assert(shape(v0.schema) === shape(CocoaSchema.warehouse))
    assert(v0.count() === 20)
    // …and the widened snapshot is also readable under the OLD schema
    // (projection — additive evolution never breaks old readers)
    val v1Old = spark.read.schema(CocoaSchema.warehouse)
      .parquet(Warehouse.versionPath(root, 1L))
    assert(shape(v1Old.schema) === shape(CocoaSchema.warehouse))

    // era 3: an OLD-schema batch (a late replay from before the
    // evolution) merges into the widened target — the merge must
    // null-fill, not fail
    val lateOldBatch = batch(3, ts = 3000000L) // no origin_certified
    val merged2 = Merge.upsert(Warehouse.read(spark, root, widened),
      lateOldBatch, CocoaSchema.mergeKey,
      col("processed_at"), Seq(col("timestamp")))
    assert(Warehouse.commit(spark, root, merged2) === 2L)
    val finalWh = Warehouse.read(spark, root, widened)
    assert(shape(finalWh.schema) === shape(widened))
    // batch 3 overwrote every key it shares with earlier batches, and
    // its rows carry null in the new column
    val batch3Keys = lateOldBatch.select(CocoaSchema.mergeKey).collect().map(_.getString(0)).toSet
    val certified = finalWh.filter(col("origin_certified") === true)
      .select(CocoaSchema.mergeKey).collect().map(_.getString(0)).toSet
    assert(certified.intersect(batch3Keys).isEmpty,
      "late old-schema rows must not retain the overwritten batch's value")
  }

  /** `f`'s result and the Spark jobs it started, counted by a local
    * property only this call sets: suites share one session and run
    * concurrently, so a session-wide count would include theirs. A
    * marker job after `f` drains the (ordered) listener bus. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(key)).orNull match {
          case `tag` => seen.incrementAndGet()
          case t if t == s"$tag-marker" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = try f finally sc.setLocalProperty(key, s"$tag-marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
      assert(drained.await(120, java.util.concurrent.TimeUnit.SECONDS))
      (out, seen.get())
    } finally sc.removeSparkListener(listener)
  }

  test("a live time-travel read infers a plain version's schema once; compact reuses it") {
    val root = Files.createTempDirectory("wh_evo_jobs").toString
    Warehouse.commit(spark, root, batch(41, n = 30).repartition(3))
    // planning the live read: ONE footer-inference job, shared by the
    // rename-era guard and the logical schema
    val (live, planJobs) = jobsOf(Warehouse.readVersionLive(spark, root, 0L))
    assert(planJobs === 1)
    assert(live.count() === 30)
    // compact = that one inference + the repartition's shuffle stage
    // + the write
    val (v, compactJobs) = jobsOf(Warehouse.compact(spark, root))
    assert(v === Some(1L))
    assert(compactJobs === 3)
    assert(Warehouse.read(spark, root).count() === 30)
  }
}
