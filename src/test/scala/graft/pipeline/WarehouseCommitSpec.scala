package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Commit-protocol hardening: lease reclaim (a crashed holder's lock
  * needs NO manual removal), fencing (a holder that lost its lease
  * never publishes), racing committers landing distinct monotonic
  * versions, and the full crash matrix between snapshot write and
  * pointer publish. */
class WarehouseCommitSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(): String = Files.createTempDirectory("wh_commit").toString
  private def batch(seed: Int) =
    Enrich.enrich(CocoaGen.shipments(spark, 10, seed = seed), new Timestamp(1000000L))
  private def hfs(root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  test("a stale lease (older than TTL) is reclaimed automatically") {
    val root = freshRoot()
    val fs = hfs(root)
    fs.mkdirs(new Path(root))
    val lock = new Path(root, "_COMMIT_LOCK")
    val out = fs.create(lock, false)
    out.write(s"dead-holder ${System.currentTimeMillis() - 3600L * 1000}"
      .getBytes("UTF-8"))
    out.close()
    // no operator intervention: the next committer breaks the
    // hour-old lease itself and commits
    assert(Warehouse.commit(spark, root, batch(1)) === 0L)
    assert(!fs.exists(lock), "winner released its own lease afterwards")
    assert(Warehouse.read(spark, root).count() === 10)
  }

  test("a live lease (younger than TTL) still fails the second committer loudly") {
    val root = freshRoot()
    val fs = hfs(root)
    fs.mkdirs(new Path(root))
    val lock = new Path(root, "_COMMIT_LOCK")
    val out = fs.create(lock, false)
    out.write(s"live-holder ${System.currentTimeMillis()}".getBytes("UTF-8"))
    out.close()
    val err = intercept[IllegalStateException] {
      Warehouse.commit(spark, root, batch(2))
    }
    assert(err.getMessage.contains("another commit holds"))
    assert(fs.exists(lock), "a live lease must never be broken")
  }

  test("fencing: a holder whose lease was reclaimed mid-commit aborts unpublished") {
    val root = freshRoot()
    val base = batch(3)
    // A DataFrame whose materialization (i.e. the snapshot write
    // itself) replaces the lock with a different holder's lease — the
    // deterministic stand-in for "this commit stalled past the TTL and
    // a breaker reclaimed the lease while the snapshot was writing".
    val stealing = spark.createDataFrame(base.rdd.mapPartitions { it =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "_COMMIT_LOCK"),
        "thief 9999999999999".getBytes("UTF-8"))
      it
    }, base.schema)
    val err = intercept[IllegalStateException] {
      Warehouse.commit(spark, root, stealing)
    }
    assert(err.getMessage.contains("commit fenced"))
    val fs = hfs(root)
    assert(!fs.exists(new Path(root, "_VERSION")),
      "fenced commit must not publish the pointer")
    // the loser must not delete the new holder's lease on the way out
    assert(fs.exists(new Path(root, "_COMMIT_LOCK")),
      "fenced commit deleted a lease it no longer owns")
    // write isolation: the fenced holder's PRIVATE staging dir is
    // cleaned up, and no v-directory was ever created — the successor
    // can publish v0 into a pristine namespace
    val leftovers = fs.listStatus(new Path(root)).map(_.getPath.getName).toSet
    assert(!leftovers.exists(_.startsWith(".v")),
      s"fenced commit leaked its staging dir: $leftovers")
    assert(!leftovers.exists(_.matches("v\\d+")),
      s"fenced commit created a public snapshot dir: $leftovers")
  }

  test("racing committers: both land, versions distinct and monotonic") {
    val root = freshRoot()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      def attempt(seed: Int): java.util.concurrent.Future[Long] =
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            var out = -1L
            // time-based deadline, not try-count: under a loaded
            // parallel test run the holder's tiny Spark write can
            // queue for MINUTES behind other suites' stages, and the
            // loser retries through all of it — size the deadline for
            // the worst queuing observed, not for a healthy run
            // (300 s was observed EXCEEDED once on a contended host,
            // r8: the winner's write sat behind the streaming suites;
            // this is a liveness backstop against a real deadlock,
            // so err far on the large side)
            val deadline = System.nanoTime() + 900L * 1000 * 1000 * 1000
            while (out < 0) {
              try out = Warehouse.commit(spark, root, batch(seed))
              catch {
                // "another commit holds": lost the acquire race.
                // "commit fenced": both racers slipped past local-FS
                // create (non-atomic there) and the fencing read-back
                // demoted this one — the defense working as designed;
                // the loser simply retries like any aborted committer.
                case e: IllegalStateException
                    if e.getMessage.contains("another commit holds") ||
                      e.getMessage.contains("commit fenced") =>
                  assert(System.nanoTime() < deadline, "committer starved")
                  Thread.sleep(25)
              }
            }
            out
          }
        })
      val (fa, fb) = (attempt(10), attempt(11))
      val (va, vb) = (fa.get(), fb.get())
      assert(Set(va, vb) === Set(0L, 1L), "two distinct monotonic versions")
      assert(Warehouse.currentVersion(spark, root) === Some(1L))
    } finally pool.shutdown()
  }

  test("crash matrix: unpublished snapshots never cause version reuse") {
    val root = freshRoot()
    assert(Warehouse.commit(spark, root, batch(20)) === 0L)

    // (a) crash AFTER fully writing v1 (incl. _SUCCESS) but BEFORE the
    // pointer swap: readers keep v0; the next commit lands at v2 —
    // the orphaned v1 is never reused or overwritten.
    batch(21).write.parquet(Warehouse.versionPath(root, 1))
    assert(Warehouse.currentVersion(spark, root) === Some(0L),
      "pointer wins while present (crash-consistent read)")
    assert(Warehouse.commit(spark, root, batch(22)) === 2L)
    assert(Warehouse.currentVersion(spark, root) === Some(2L))

    // (b) pointer ALSO lost: recovery from complete snapshots, and the
    // following commit still advances (never reuses a number).
    val fs = hfs(root)
    fs.delete(new Path(root, "_VERSION"), false)
    assert(Warehouse.currentVersion(spark, root) === Some(2L),
      "recovered from complete snapshots, not read-as-empty")
    assert(Warehouse.commit(spark, root, batch(23)) === 3L)

    // (c) an INCOMPLETE snapshot (no _SUCCESS — crash mid-write) is
    // invisible to recovery and safely overwritten by the next commit.
    val orphan = new Path(Warehouse.versionPath(root, 4))
    fs.mkdirs(orphan)
    val junk = fs.create(new Path(orphan, "part-junk.parquet"), true)
    junk.write("not parquet".getBytes("UTF-8")); junk.close()
    assert(Warehouse.currentVersion(spark, root) === Some(3L),
      "incomplete snapshot ignored by recovery")
    assert(Warehouse.commit(spark, root, batch(24)) === 4L)
    assert(Warehouse.read(spark, root).count() === 10,
      "overwritten incomplete dir reads back clean")
  }

  test("vacuum retention floor: a held reader on v_{n-1} survives the default vacuum") {
    val root = freshRoot()
    assert(Warehouse.commit(spark, root, batch(31)) === 0L)
    assert(Warehouse.commit(spark, root, batch(32)) === 1L)
    // a reader that resolved the pointer just before the next commit:
    // it holds v1 while v2 publishes
    val held = spark.read.schema(CocoaSchema.warehouse)
      .parquet(Warehouse.versionPath(root, 1L))
    assert(Warehouse.commit(spark, root, batch(33)) === 2L)
    Warehouse.vacuum(spark, root) // default keepLast=2 keeps v2 AND v1
    assert(held.count() === 10,
      "held reader on the just-superseded snapshot must survive vacuum")
    val fs = hfs(root)
    assert(!fs.exists(new Path(Warehouse.versionPath(root, 0L))),
      "v0 is beyond the floor and must be pruned")
    assert(Warehouse.read(spark, root).count() === 10)
  }

  test("vacuum vs concurrent reader: correct rows or a loud failure, never silent wrong results") {
    // Adversarial retention race: a reader resolves and holds
    // v_{n-1}'s PATH while a writer commits twice and vacuums AT the
    // retention floor — pruning the held version. The reader's
    // contract is correct-or-loud: every successful read returns the
    // snapshot's exact row multiset (a concurrent prune of a
    // multi-file snapshot must never surface as a silently partial
    // scan), and once the files are gone the read throws. A result
    // that is nonempty-but-partial, or empty-without-error, is the
    // silent-wrong-rows failure mode this pins against.
    val root = freshRoot()
    // the loudness contract rides this conf: with ignoreMissingFiles
    // flipped on, a mid-prune scan would silently drop pruned files —
    // exactly the wrong-rows mode this test exists to forbid
    assert(spark.conf.get("spark.sql.files.ignoreMissingFiles") === "false",
      "warehouse correctness requires ignoreMissingFiles=false")
    // 40 rows in several files so a mid-prune scan COULD be partial
    assert(Warehouse.commit(spark, root,
      Enrich.enrich(CocoaGen.shipments(spark, 40, seed = 51),
        new Timestamp(1000000L)).repartition(4)) === 0L)
    assert(Warehouse.commit(spark, root, batch(52)) === 1L)
    val heldPath = Warehouse.versionPath(root, 0L)
    val expected = Warehouse.readVersion(spark, root, 0L)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.size === 40)

    @volatile var silentWrong: Option[String] = None
    @volatile var sawLoudFailure = false
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop && silentWrong.isEmpty) {
        try {
          // fresh frame each pass, through the API read: a RAW
          // spark.read.parquet of the pinned path is subject to
          // Spark's silent-empty listing window (directory deleted
          // between glob check and leaf listing returns an empty file
          // set with only a WARN) — Warehouse.readVersion validates
          // the listing against the directory and is correct-or-loud
          val got = Warehouse.readVersion(spark, root, 0L)
            .collect().map(_.toString).sorted.toSeq
          if (got != expected)
            silentWrong = Some(s"read ${got.size} rows, expected 40, no error raised")
        } catch {
          case _: Throwable => sawLoudFailure = true // loud is correct
        }
      }
    })
    reader.start()
    try {
      Warehouse.commit(spark, root, batch(53))
      // keepLast=1: only the current version survives — the held v0
      // (and v1) are pruned WHILE the reader loops
      Warehouse.vacuum(spark, root, keepLast = 1)
      // give the reader a few more passes against the pruned layout
      val deadline = System.currentTimeMillis() + 5000
      while (!sawLoudFailure && silentWrong.isEmpty
          && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally { stop = true; reader.join(30000) }

    assert(silentWrong.isEmpty, silentWrong.getOrElse(""))
    assert(sawLoudFailure, "post-prune reads must fail loudly, not hang or succeed")
    val fs = hfs(root)
    assert(!fs.exists(new Path(heldPath)), "v0 pruned at keepLast=1")
    assert(Warehouse.read(spark, root).count() === 10, "writer's current snapshot intact")
  }

  test("compact: fewer files, identical rows, history intact") {
    val root = freshRoot()
    // a deliberately fragmented snapshot: 8 files of ~1 row each
    assert(Warehouse.commit(spark, root, batch(41).repartition(8)) === 0L)
    val fs = hfs(root)
    def parquetFiles(v: Long) =
      fs.listStatus(new Path(Warehouse.versionPath(root, v)))
        .count(_.getPath.getName.endsWith(".parquet"))
    // round-robin can leave some of the 8 partitions empty (no file
    // is written for an empty partition) — fragmented is what matters
    val fragmented = parquetFiles(0L)
    assert(fragmented >= 4)
    val before = Warehouse.read(spark, root).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(Warehouse.compact(spark, root) === Some(1L))
    assert(parquetFiles(1L) === 1, "10 tiny rows must land in one file")
    val after = Warehouse.read(spark, root).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(after === before, "compaction must not change the row multiset")
    // the fragmented ancestor is still readable (vacuum governs aging)
    assert(fs.exists(new Path(Warehouse.versionPath(root, 0L))))
    assert(spark.read.schema(CocoaSchema.warehouse)
      .parquet(Warehouse.versionPath(root, 0L)).count() === 10)
  }

  test("compact on a never-committed warehouse is a no-op") {
    assert(Warehouse.compact(spark, freshRoot()) === None)
  }

  test("read-modify-write fencing: a commit interleaving before the lease aborts the writer") {
    val root = freshRoot()
    assert(Warehouse.commit(spark, root, batch(51)) === 0L)
    // writer resolves cur=0 and derives its snapshot ... meanwhile a
    // concurrent committer lands v1
    assert(Warehouse.commit(spark, root, batch(52)) === 1L)
    val ex = intercept[IllegalStateException] {
      Warehouse.commit(spark, root, batch(51).limit(5),
        expectedCurrent = Some(Some(0L)))
    }
    assert(ex.getMessage.contains("interleaved"))
    // nothing was published: v1 is still current
    assert(Warehouse.currentVersion(spark, root) === Some(1L))
  }

  test("vacuum minAgeMs refuses to drop young snapshots regardless of position") {
    val root = freshRoot()
    (41 to 44).foreach(s => Warehouse.commit(spark, root, batch(s)))
    Warehouse.vacuum(spark, root, keepLast = 1, minAgeMs = 3600L * 1000)
    val fs = hfs(root)
    (0L to 3L).foreach(v =>
      assert(fs.exists(new Path(Warehouse.versionPath(root, v))),
        s"v$v is younger than minAgeMs and must be retained"))
  }

  test("vacuum never touches snapshots above the committed pointer (in-flight commits)") {
    val root = freshRoot()
    (51 to 53).foreach(s => Warehouse.commit(spark, root, batch(s)))
    val fs = hfs(root)
    // a concurrent committer mid-flight: complete snapshot dir, pointer
    // not yet swung to it
    val inflight = new Path(Warehouse.versionPath(root, 99L))
    fs.mkdirs(inflight)
    fs.create(new Path(inflight, "_SUCCESS"), true).close()
    Warehouse.vacuum(spark, root, keepLast = 1)
    assert(fs.exists(inflight),
      "an in-flight snapshot above the pointer must never be vacuumed")
    assert(!fs.exists(new Path(Warehouse.versionPath(root, 0L))))
    assert(!fs.exists(new Path(Warehouse.versionPath(root, 1L))))
    assert(fs.exists(new Path(Warehouse.versionPath(root, 2L))))
  }

  test("vacuum sweeps crashed-publisher staging dirs under root, never the live lock files") {
    val root = freshRoot()
    (61 to 62).foreach(s => Warehouse.commit(spark, root, batch(s)))
    val fs = hfs(root)
    // crashed publishers: a row-level-write stage, a sink stage, and a
    // commit stage — dirs left behind by a JVM that died pre-publish
    val crashed = Seq(".rlw_deadbeef", ".sink_deadbeef", ".v9_deadhost")
      .map(n => new Path(root, n))
    crashed.foreach { p =>
      fs.mkdirs(p)
      fs.create(new Path(p, "part-0.parquet"), true).close()
    }
    // live small FILES that must survive: broken-lock tombstone and a
    // version-pointer tmp
    val tombstone = new Path(root, "._COMMIT_LOCK.broken.x")
    val ptrTmp = new Path(root, "._VERSION.tmp")
    fs.create(tombstone, true).close()
    fs.create(ptrTmp, true).close()
    // young dirs survive a TTL'd vacuum…
    Warehouse.vacuum(spark, root, lockTtlMs = 3600L * 1000)
    crashed.foreach(p => assert(fs.exists(p),
      s"$p younger than the lock TTL must be presumed live"))
    // …stale ones go (TTL=1ms: everything qualifies as crashed)
    Thread.sleep(5)
    Warehouse.vacuum(spark, root, lockTtlMs = 1L)
    crashed.foreach(p => assert(!fs.exists(p),
      s"stale crashed-publisher dir $p must be swept"))
    assert(fs.exists(tombstone) && fs.exists(ptrTmp),
      "dot-prefixed FILES (lock tombstones, pointer tmp) are never touched")
    assert(Warehouse.read(spark, root).count() === 10, "data unharmed")
  }

  // ---------------------------------------------------- publishStaged

  private def stageDir(root: String, df: org.apache.spark.sql.DataFrame): String = {
    val stage = s"$root/.staged_${java.util.UUID.randomUUID()}"
    df.write.parquet(stage) // parquet job commit writes _SUCCESS
    stage
  }

  test("publishStaged: staged dir becomes the next version atomically") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(60))
    val next = batch(61)
    val stage = stageDir(root, next)
    val v = Warehouse.publishStaged(spark, root, stage,
      expectedCurrent = Some(Some(0L)))
    assert(v === 1L)
    assert(!hfs(root).exists(new Path(stage)), "staging renamed away")
    assert(Warehouse.currentVersion(spark, root) === Some(1L))
    assert(Warehouse.read(spark, root).orderBy("shipment_id").collect().toSeq
      === next.orderBy("shipment_id").collect().toSeq)
    // history intact
    assert(spark.read.parquet(Warehouse.versionPath(root, 0L)).count() === 10)
  }

  test("publishStaged: expectedCurrent fence aborts loudly and cleans the staging dir") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(62))
    Warehouse.commit(spark, root, batch(63)) // the interleaved commit
    val stage = stageDir(root, batch(64))
    val e = intercept[IllegalStateException] {
      // caller derived its replacement from v0, but current is v1
      Warehouse.publishStaged(spark, root, stage,
        expectedCurrent = Some(Some(0L)))
    }
    assert(e.getMessage.contains("publish fenced"))
    assert(!hfs(root).exists(new Path(stage)),
      "a fenced publish must not leak its staging dir")
    assert(Warehouse.currentVersion(spark, root) === Some(1L), "nothing published")
  }

  test("publishStaged: refuses half-written staging (no _SUCCESS) and foreign paths") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(65))
    val fs = hfs(root)
    val half = new Path(root, ".half_written")
    fs.mkdirs(half)
    val e1 = intercept[IllegalArgumentException] {
      Warehouse.publishStaged(spark, root, half.toString)
    }
    assert(e1.getMessage.contains("_SUCCESS"))
    assert(!fs.exists(half), "refused staging is cleaned up")
    // a path not directly under root (or not dot-prefixed) is refused
    // BEFORE any destructive cleanup
    val outside = Files.createTempDirectory("not_under_root").toString
    val e2 = intercept[IllegalArgumentException] {
      Warehouse.publishStaged(spark, root, outside)
    }
    assert(e2.getMessage.contains("dot-prefixed"))
    assert(hfs(outside).exists(new Path(outside)),
      "a refused foreign path must never be deleted")
  }

  // ----------------------------------- one protocol, five publishers

  /** A version publisher under test: `setup` builds a fresh table and
    * returns the root whose `_COMMIT_LOCK` the publish takes, plus the
    * publish itself. */
  private case class Publisher(name: String, setup: () => (String, () => Long))

  private val publishers = Seq(
    Publisher("commit", () => {
      val root = freshRoot()
      (root, () => Warehouse.commit(spark, root, batch(70)))
    }),
    Publisher("publishStaged", () => {
      val root = freshRoot()
      val stage = stageDir(root, batch(71))
      (root, () => Warehouse.publishStaged(spark, root, stage))
    }),
    Publisher("cloneShallow", () => {
      val src = freshRoot()
      Warehouse.commit(spark, src, batch(72))
      val dst = freshRoot()
      (dst, () => Warehouse.cloneShallow(spark, src, dst))
    }),
    Publisher("renameColumns", () => {
      val root = freshRoot()
      Warehouse.commit(spark, root, batch(73))
      (root, () => Warehouse.renameColumns(spark, root, Map("region" -> "zone")))
    }),
    Publisher("publishSnapshotGroup", () => {
      val member = freshRoot()
      Warehouse.commit(spark, member, batch(74))
      val group = freshRoot()
      (group, () => Warehouse.publishSnapshotGroup(spark, group, Map("t" -> member)))
    }))

  private def writeLease(root: String, holder: String, atMs: Long): Path = {
    val lock = new Path(root, "_COMMIT_LOCK")
    val out = hfs(root).create(lock, false)
    out.write(s"$holder $atMs".getBytes("UTF-8"))
    out.close()
    lock
  }
  private def versionDirs(root: String): Set[String] =
    hfs(root).listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).toSet
  private def hiddenDirs(root: String): Set[String] =
    hfs(root).listStatus(new Path(root))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).toSet

  test("one protocol: a live lease refuses every publisher, stays put, and nothing publishes") {
    publishers.foreach { p =>
      withClue(s"${p.name}: ") {
        val (root, publish) = p.setup()
        val before = versionDirs(root)
        val pointer = Warehouse.currentVersion(spark, root)
        val lock = writeLease(root, "live-holder", System.currentTimeMillis())
        val e = intercept[IllegalStateException](publish())
        assert(e.getMessage.contains("another commit holds"), e.getMessage)
        assert(hfs(root).exists(lock), "a live lease must never be broken")
        assert(hiddenDirs(root).isEmpty, "a refused publish leaked a staging dir")
        assert(versionDirs(root) === before, "a refused publish created a v-dir")
        assert(Warehouse.currentVersion(spark, root) === pointer)
      }
    }
  }

  test("one protocol: every publisher reclaims a stale lease and releases it after") {
    publishers.foreach { p =>
      withClue(s"${p.name}: ") {
        val (root, publish) = p.setup()
        val lock = writeLease(root, "dead-holder",
          System.currentTimeMillis() - 3600L * 1000)
        val v = publish()
        assert(Warehouse.currentVersion(spark, root) === Some(v))
        assert(versionDirs(root).contains(s"v$v"))
        assert(!hfs(root).exists(lock), "the winner must release its own lease")
        assert(hiddenDirs(root).isEmpty, "a published version left a staging dir")
      }
    }
  }
}
