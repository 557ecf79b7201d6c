package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Dedup operators: planted-duplicate recovery (exact, MinHash,
  * SimHash, n-gram Jaccard) on real fixture text. The planted pairs
  * are (doc_id, doc_id+100000) with one appended token — high-Jaccard
  * near-dups every algorithm must find, against a background of
  * unrelated docs it must not pair up wholesale. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val planted = 40

  private lazy val docs = NorthStar.withPlantedNearDups(spark, dir, planted)

  test("exact dedup collapses identical copies and keeps the smallest id") {
    val base = spark.range(0, 100).selectExpr("id AS doc_id", "concat('text-', id % 60) AS text")
    val groups = Dedup.exactGroups(base, "doc_id", "text")
    assert(groups.count() === 60)
    assert(groups.agg(sum("n_copies")).head.getLong(0) === 100)
    val kept = Dedup.exactDedup(base, "doc_id", "text")
    assert(kept.count() === 60)
    assert(kept.agg(max("doc_id")).head.getLong(0) < 60, "smallest id survives")
  }

  test("connected components collapse chains (both execution paths)") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4 → needs >1 propagation round),
    // pair 10-11, star 20-{21,22,23}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (20L, 22L), (20L, 23L))
      .toDF("id_a", "id_b")
    // smallGraphEdges=0 forces the distributed propagation loop;
    // default exercises the driver union-find fast path.
    for (threshold <- Seq(0L, 2000000L)) {
      val got = Dedup.connectedComponents(pairs, smallGraphEdges = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 5L).forall(got(_) === 1L), s"chain collapses to min id (t=$threshold)")
      assert(got(10L) === 10L && got(11L) === 10L)
      assert((20L to 23L).forall(got(_) === 20L))
      assert(got.size === 11)
    }
  }

  test("minhash LSH recovers planted near-dup pairs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text").collect()
    val plantedPairs = pairs.filter(r => r.getLong(1) == r.getLong(0) + 100000)
    assert(plantedPairs.length >= (planted * 0.9).toInt,
      s"recovered ${plantedPairs.length}/$planted planted pairs")
    assert(pairs.forall(_.getDouble(2) >= 0.5), "all surviving pairs verified >= threshold")
  }

  test("incremental minhash equals the full self-join restricted to increment pairs") {
    val corpus = graft.core.Tables.documents(spark, dir).select("doc_id", "text")
    val increment = corpus.filter(col("doc_id") < planted)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graftmark")).as("text"))
    val inc = Dedup.incrementalMinhashPairs(corpus, increment, "doc_id", "text",
      numHashes = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashPairs(docs, "doc_id", "text",
      numHashes = 128, bands = 32, threshold = 0.5)
      .filter(col("id_b") >= 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc === full, "incremental path must equal full-corpus pairs touching the increment")
    assert(inc.nonEmpty && inc.exists { case (a, b, _) => b == a + 100000 },
      "planted new-vs-old pairs recovered")
  }

  test("incremental exact dedup: corpus echoes drop, new texts survive once") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      .toDF("doc_id", "text")
    val increment = Seq(
      (10L, "alpha"),  // exact corpus copy -> dropped
      (11L, "gamma"),  // new -> kept
      (12L, "gamma"),  // echo within increment -> collapsed into 11
      (13L, "delta")   // new -> kept
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalExactDedup(corpus, increment, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(11L, 13L))
  }

  test("incremental exact dedup: null-text rows never pass the gate") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha"), (2L, Option.empty[String].orNull))
      .toDF("doc_id", "text")
    val increment = Seq((10L, Option.empty[String].orNull),
      (11L, Option.empty[String].orNull), (12L, "beta"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalExactDedup(corpus, increment, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(12L), "contentless rows are not 'new content'")
  }

  test("simhash recovers planted near-dup pairs within hamming budget") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text").collect()
    val plantedPairs = pairs.filter(r => r.getLong(1) == r.getLong(0) + 100000)
    assert(plantedPairs.length >= (planted * 0.9).toInt,
      s"recovered ${plantedPairs.length}/$planted planted pairs")
  }

  test("ngram jaccard recovers planted pairs with exact scores") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text").collect()
    val plantedPairs = pairs.filter(r => r.getLong(1) == r.getLong(0) + 100000)
    assert(plantedPairs.length >= (planted * 0.9).toInt)
    // appending 1 token to a d-shingle doc gives J = (d-?)/(d+k);
    // must be high but < 1
    assert(plantedPairs.forall(r => r.getDouble(2) > 0.4 && r.getDouble(2) < 1.0))
  }

  test("prefix-filtered ngram jaccard equals the exhaustive baseline") {
    val fast = Dedup.ngramJaccardPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val slow = Dedup.ngramJaccardPairsExhaustive(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(fast === slow, "prefix filter must lose no pairs and add none")
  }

  test("prefix length survives float-floor boundaries (t=0.8, 5-shingle docs)") {
    import spark.implicits._
    // J(A,B) = 4/5 = 0.8 exactly; (1.0-0.8)*5 evaluates to
    // 0.9999999999999998 in double math, so an epsilon-less floor
    // would shorten the prefix and silently lose this pair.
    val a = "w1 w2 w3 w4 w5 w6 w7" // 5 distinct 3-shingles
    val b = "w1 w2 w3 w4 w5 w6"    // 4 shingles, all ⊂ A's
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8).collect()
    assert(pairs.length === 1 && pairs.head.getDouble(2) === 0.8,
      s"expected the J=0.8 pair, got ${pairs.mkString(",")}")
  }

  test("near-dup operators do not drown in false positives") {
    // MinHash verifies exact shingle Jaccard → near-zero background.
    assert(Dedup.minhashPairs(docs, "doc_id", "text").count() <= planted * 5)
    // SimHash is bag-of-words-ish and the fixture draws every doc from
    // the same ~40-word vocabulary, so some genuinely-similar
    // background pairs are expected — bound it at an order of
    // magnitude over the planted set, not at zero.
    assert(Dedup.simhashPairs(docs, "doc_id", "text").count() <= planted * 10)
  }

  test("corpus clean: gates, dedups, and never keeps both halves of a near-dup pair") {
    val out = NorthStar.corpusClean(spark, "/root/testdata/sf0.001")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val corpusSize = NorthStar.withPlantedNearDups(spark, "/root/testdata/sf0.001").count()
    assert(out.nonEmpty && out.size < corpusSize, "gate + dedup must drop something")
    // a planted copy (id+100000) and its base must never BOTH survive
    assert(!out.exists(id => id >= 100000L && out.contains(id - 100000L)),
      "near-dup removal kept both halves of a planted pair")
  }

  test("line-level boilerplate strip: cross-doc lines removed, order and within-doc dups kept") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 12 docs share a footer; doc 0 also repeats ITS OWN unique line
    // (must survive — df counts per doc, not per occurrence)
    val docs = (0L until 12L).map { i =>
      val own = s"unique line $i"
      val body = if (i == 0) s"$own\n$own" else own
      (i, s"intro $i\n$body\nSHARED FOOTER")
    }.toDF("doc_id", "text")
    val out = Dedup.stripBoilerplateLines(docs, "doc_id", "text", maxDocFreq = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 12)
    (0L until 12L).foreach { i =>
      val r = out(i)
      assert(!r.getString(1).contains("SHARED FOOTER"), s"doc $i kept boilerplate")
      assert(r.getLong(3) === 1L, s"doc $i should lose exactly the footer")
    }
    assert(out(0L).getString(1) === "intro 0\nunique line 0\nunique line 0",
      "order and within-doc duplicates must be preserved")

    // a doc that is ALL boilerplate still yields a row (empty clean text)
    val allBoiler = (0L until 12L).map(i => (i, "SHARED FOOTER")).toDF("doc_id", "text")
    val stripped = Dedup.stripBoilerplateLines(allBoiler, "doc_id", "text", maxDocFreq = 10)
    assert(stripped.count() === 12)
    assert(stripped.filter(col("text_clean") =!= "").count() === 0)
    assert(stripped.filter(col("n_lines_removed") =!= 1L).count() === 0)
    spark.catalog.clearCache()
  }

  test("planted-footer corpus: d20 removes exactly the two planted lines per doc") {
    val out = NorthStar.lineDedupClean(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    // every doc had exactly the two planted boilerplate lines appended;
    // the fixture corpus itself has no cross-doc repeated lines
    assert(out.forall(_.getLong(3) == 2L),
      "every doc must lose exactly its two planted footer lines")
    spark.catalog.clearCache()
  }

  test("containment: planted excerpts found at 1.0 where resemblance fails") {
    val pairs = NorthStar.containmentNearDups(spark, dir).collect()
    val byContained = pairs.groupBy(_.getLong(0))
    // every planted excerpt (doc_id + 200000) is contained in its
    // source at exactly 1.0 — all of its shingles are source shingles
    val sources = graft.core.Tables.documents(spark, dir)
      .filter(col("doc_id") < 30 && col("text").isNotNull)
      .select("doc_id").collect().map(_.getLong(0))
    assert(sources.nonEmpty)
    sources.foreach { id =>
      val rows = byContained.getOrElse(id + 200000,
        fail(s"planted excerpt ${id + 200000} not detected"))
      val toSource = rows.find(_.getLong(1) == id)
        .getOrElse(fail(s"excerpt ${id + 200000} not linked to source $id"))
      assert(toSource.getDouble(2) === 1.0)
    }
    // directionality: for at least some long source, the reverse
    // direction (source contained in its 25-token excerpt) must be
    // absent — the asymmetry is the operator's whole point (short
    // docs whose excerpt equals the doc legitimately emit both)
    val reversed = sources.count { id =>
      pairs.exists(r => r.getLong(0) == id && r.getLong(1) == id + 200000)
    }
    assert(reversed < sources.length,
      "every source reported as contained in its own excerpt — asymmetry lost")
    // and resemblance genuinely misses these: the excerpt/source
    // Jaccard sits far below the 0.4 near-dup threshold for docs
    // long enough that the 25-token excerpt is a small fraction
    val jacc = Dedup.ngramJaccardPairsExhaustive(
      NorthStar.withPlantedExcerpts(spark, dir), "doc_id", "text",
      n = 3, threshold = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missedByJaccard = sources.count { id =>
      !jacc.contains((id, id + 200000)) && !jacc.contains((id + 200000, id))
    }
    // how many depends on fixture doc lengths (short docs give a
    // 25-token excerpt high resemblance too); what must hold is that
    // containment catches pairs resemblance cannot
    assert(missedByJaccard >= 1,
      s"resemblance missed no excerpt pair ($missedByJaccard/${sources.length}) — " +
        "the containment operator adds nothing on this fixture")
    spark.catalog.clearCache()
  }

  test("prefix-filtered containment equals the exhaustive formulation") {
    val corpus = NorthStar.withPlantedExcerpts(spark, dir)
    // SAME maxPosting on both sides — the equivalence claim is for
    // any cap, not just caps no fixture shingle reaches: the prefix
    // twin's verify stage excludes hot shingles from its set
    // intersection exactly as the exhaustive twin's posting filter
    // does. Checked at the default cap AND at a cap low enough that
    // the fixture genuinely has hot shingles, so the exclusion path
    // is exercised rather than vacuously empty.
    for (cap <- Seq(1000, 5)) {
      val exhaustive = Dedup.containmentPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.8, maxPosting = cap).collect()
        .map(_.toString).sorted.toSeq
      val prefix = Dedup.containmentPairsPrefix(corpus, "doc_id", "text",
        n = 3, threshold = 0.8, maxPosting = cap).collect()
        .map(_.toString).sorted.toSeq
      assert(prefix === exhaustive, s"maxPosting=$cap")
      assert(prefix.nonEmpty, s"maxPosting=$cap")
    }
    spark.catalog.clearCache()
  }

  test("prefix routes equal exhaustive routes on the zipfian corpus shape too") {
    // the bench z-rows compare the two routes' SPEED on zipfian text;
    // this pins that they compute the same thing there (the
    // equivalence specs above run on the uniform-vocabulary fixture)
    val jd = NorthStar.zipfianWithNearDups(spark, nDocs = 400, planted = 30)
    val jExh = Dedup.ngramJaccardPairsExhaustive(jd, "doc_id", "text",
      n = 3, threshold = 0.4).collect().map(_.toString).sorted.toSeq
    val jPre = Dedup.ngramJaccardPairs(jd, "doc_id", "text",
      n = 3, threshold = 0.4).collect().map(_.toString).sorted.toSeq
    assert(jPre === jExh)
    assert(jExh.nonEmpty, "no zipfian jaccard pairs — fixture broken")
    val cd = NorthStar.zipfianWithExcerpts(spark, nDocs = 400, planted = 30)
    val cExh = Dedup.containmentPairs(cd, "doc_id", "text",
      n = 3, threshold = 0.8).collect().map(_.toString).sorted.toSeq
    val cPre = Dedup.containmentPairsPrefix(cd, "doc_id", "text",
      n = 3, threshold = 0.8).collect().map(_.toString).sorted.toSeq
    assert(cPre === cExh)
    assert(cExh.nonEmpty, "no zipfian containment pairs — fixture broken")
    spark.catalog.clearCache()
  }

  test("the low-cap containment run genuinely exercises hot-shingle exclusion") {
    // guard for the test above: at cap=5 the fixture must HAVE
    // shingles with df > 5, or the equivalence check at that cap
    // proves nothing about the exclusion path
    val corpus = NorthStar.withPlantedExcerpts(spark, dir)
    val maxDf = corpus.select(explode(
      graft.functions.SketchExpressions.shingleHashes(col("text"), 3)).as("gh"))
      .groupBy("gh").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxDf > 5, s"fixture max shingle df $maxDf <= 5")
  }

  test("edit-distance join equals all-pairs Levenshtein, typos link, no cartesian") {
    val df = NorthStar.editDistanceNearDups(spark, dir)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // independent mirror: plain-Scala Levenshtein over ALL pairs of
    // the deduped representative titles — the ground truth the
    // prefix-filtered candidate route must reproduce exactly
    val reps = NorthStar.withPlantedTypos(spark, dir)
      .groupBy("title").agg(min("doc_id").as("doc_id"))
      .collect().map(r => r.getLong(1) -> r.getString(0))
      .filter(_._2.length >= 17)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val cur = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(a.length)
    }
    val expected = (for {
      (ia, sa) <- reps; (ib, sb) <- reps if ia < ib
      if math.abs(sa.length - sb.length) <= 2
      dist = lev(sa, sb) if dist <= 2
    } yield (ia, ib, dist.toLong)).toSet
    assert(got === expected)

    // planted typos that survived as their own representative link back
    val typoLinks = got.count { case (a, b, d) => b >= 300000 && d <= 1 }
    assert(typoLinks >= 20, s"only $typoLinks typo links recovered")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "edit-distance join planned a cross product")
    spark.catalog.clearCache()
  }

  test("cluster representatives: one per cluster, a member, counts conserve") {
    val reps = NorthStar.clusterRepresentatives(spark, dir).collect()
    val clusters = NorthStar.nearDupClusters(spark, dir).collect()
    val byCluster = clusters.groupBy(_.getLong(1)).view
      .mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(reps.nonEmpty)
    assert(reps.length === byCluster.size, "exactly one representative per cluster")
    assert(reps.map(_.getLong(3)).sum === clusters.length.toLong,
      "membership counts conserve the clustered corpus")
    reps.foreach { r =>
      assert(byCluster(r.getLong(0)).contains(r.getLong(1)),
        s"representative ${r.getLong(1)} must belong to cluster ${r.getLong(0)}")
    }
    spark.catalog.clearCache()
  }

  test("dup-span coverage: shared 8-gram found, interval union merges overlaps") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"),          // shares 'a..h' with doc 2
      (2L, "x a b c d e f g h z"),
      (3L, "p q r s t u v w p2 q2 r2 s2 t2 u2 v2 w2 end1"), // 16-token prefix
      (4L, "p q r s t u v w p2 q2 r2 s2 t2 u2 v2 w2 end2"), //   shared with 3
      (5L, "totally unrelated words only here once")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanCoverage(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((10L, 1L, 0.8)))   // 8 of 10 tokens covered
    assert(got(2L) === ((10L, 1L, 0.8)))
    // 9 overlapping shared grams union to the 16-token prefix: 16/17
    assert(got(3L)._2 === 9L)
    assert(got(3L)._3 === math.floor(16.0 / 17 * 10000 + 0.5) / 10000)
    assert(got(4L)._2 === 9L)
    assert(got(5L) === ((6L, 0L, 0.0)))
  }

  test("planted-slogan corpus: d25 adds exactly the five slogan grams per planted doc") {
    // The fixture corpus has NATURAL cross-doc duplicated 8-grams
    // (its generator repeats phrases across docs), so assert the
    // planting DELTA, which is exact: each planted doc gains the 5
    // pure-slogan grams (the doc-tail/slogan boundary grams carry the
    // doc's unique tail and stay singletons), covering the 12
    // appended tokens; unplanted docs are untouched.
    val dir = "/root/testdata/sf0.001"
    val base = Dedup.dupSpanCoverage(
        graft.core.Tables.documents(spark, dir).select("doc_id", "text"),
        "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val out = NorthStar.dupSpans(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.exists(r => r.getLong(2) > 0), "some docs must carry dup spans")
    out.foreach { r =>
      val (id, n, ndg, cov) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val (bn, bndg, bcov) = base(id)
      if (id % 6 == 0) {
        assert(n === bn + 13, s"doc $id token count grows by u<id> + slogan")
        assert(ndg === bndg + 5L, s"doc $id: the 12-token slogan has 5 pure 8-grams")
        // covered tokens grow by exactly the 12 slogan tokens (the
        // slogan spans are disjoint from any base dup span); undo the
        // 4dp quantization with a matching tolerance
        assert(math.abs(cov * n - (bcov * bn + 12.0)) < 0.05, s"doc $id coverage delta")
      } else {
        assert((n, ndg, cov) === ((bn, bndg, bcov)), s"doc $id must be untouched")
      }
    }
  }

  test("fuzzyJoin: R-S semantics — brute-force equal, no query-query pairs, planted recovery") {
    import spark.implicits._
    // queries vs corpus with known overlaps; q2 and q3 are near-dups
    // of each OTHER but must never pair (R-S, not self-join)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "totally unrelated content goes right here")).toDF("doc_id", "text")
    val queries = Seq(
      (11L, "alpha beta gamma delta epsilon eta"),   // near-dup of 1
      (12L, "one two three four five six seven"),    // exact dup of 2
      (13L, "one two three four five six eight")).toDF("doc_id", "text") // near 2 AND 12
    val got = Dedup.fuzzyJoin(queries, corpus, "doc_id", "text",
      n = 3, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force mirror on word 3-shingles
    def sh(t: String): Set[String] = {
      val toks = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.size >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    val expect = (for {
      q <- Seq((11L, "alpha beta gamma delta epsilon eta"),
        (12L, "one two three four five six seven"),
        (13L, "one two three four five six eight"))
      c <- Seq((1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six seven"),
        (3L, "totally unrelated content goes right here"))
      a = sh(q._2); b = sh(c._2)
      j = a.intersect(b).size.toDouble / a.union(b).size
      if j >= 0.4
    } yield (q._1, c._1)).toSet
    assert(got === expect)
    assert(got.contains((12L, 2L)) && got.contains((11L, 1L)))
    assert(!got.exists(p => p._1 > 10 && p._2 > 10), "no query-query pairs may appear")
  }

  test("fuzzyJoin: every planted query recovers its own original at high similarity") {
    val got = NorthStar.fuzzyJoinPlanted(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 40)
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .select("doc_id").collect().map(_.getLong(0))
    assert(docs.nonEmpty)
    docs.foreach { id =>
      val j = got.get((id + 100000, id))
      assert(j.exists(_ >= 0.4), s"planted query ${id + 100000} failed to recover doc $id")
    }
  }
}
