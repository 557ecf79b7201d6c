package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import graft.multimodal.Multimodal

/** Query-shaped entry points for the north-star operator suite
  * (dedup, similarity, text analysis, multimodal) over the driver's
  * `documents` / `embeddings` fixtures. Near-dup queries *plant*
  * deterministic mutated copies first — the raw fixture has no
  * duplicates, and an operator that provably recovers its planted
  * pairs is a far stronger check than one returning an empty set. */
object NorthStar {

  /** documents ∪ mutated copies of the first `n` docs (one appended
    * token), ids offset by 100000 — each planted pair (id, id+100000)
    * should be recovered by every near-dup operator. */
  private[operators] def withPlantedNearDups(spark: SparkSession, dir: String, n: Int = 40): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val mutated = docs.filter(col("doc_id") < n)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graftmark")).as("text"))
    // Hash-repartition BEFORE the sketch/kernel stages: the fixture is
    // one single-row-group parquet file, so the scan yields one task
    // and every per-row kernel downstream (tokenize, 128-hash MinHash,
    // quality regexes) would otherwise run serial regardless of core
    // count. One shuffle of the raw text — O(corpus bytes), trivial
    // next to the multi-pass kernel work it parallelizes — and the
    // cost holds at any scale: sketching dominates text movement.
    // The key is md5(text), not doc_id: the per-row kernels are
    // key-agnostic, but exactDedup's window partitions by md5(text),
    // so this choice lets Catalyst elide the window's own exchange in
    // the compositions that dedup first (corpusClean) — one fewer
    // shuffle of the full text corpus.
    docs.unionByName(mutated).repartition(widenWidth(spark), md5(col("text")))
  }

  /** Explicit width for the pre-kernel repartitions: an explicit count
    * opts OUT of AQE partition coalescing — AQE sizes partitions by
    * BYTES (advisory 64 MB) and would collapse a small-but-CPU-heavy
    * corpus right back to one task, which is exactly the serialization
    * these repartitions exist to break. 8 ways saturates the fixture
    * corpora's kernel cost (measured: equal to 32 on documents, and 32
    * pays visible per-task overhead on the 2k-vector embeddings);
    * these widenings live in the QUERY/fixture layer only — the
    * library operators themselves stay partition-agnostic and inherit
    * whatever width the caller's (cluster-scale) input already has. */
  private def widenWidth(spark: SparkSession): Int =
    math.min(8, spark.sessionState.conf.numShufflePartitions)

  /** Gate-fixture guard for the hot-posting caps. The DuckDB oracles
    * for d09/d35/d37 count over ALL shared shingles/grams, while the
    * operators drop postings hotter than `maxPosting` — the two agree
    * exactly only while no fixture shingle/gram exceeds the cap. That
    * agreement was previously data-dependent and SILENT; this assert
    * makes it loud the moment fixture scale grows past the cap (the
    * correct-or-loud pattern the warehouse vacuum uses). One tiny
    * aggregation over the fixture-layer corpus per gate call — never
    * part of the library operators themselves, whose caps are a
    * documented approximation contract, not an oracle contract. */
  private def requireMaxDfBelow(df: DataFrame, elems: Column, cap: Int,
      what: String): Unit = {
    val maxDf = df.select(explode(elems).as("__e"))
      .groupBy("__e").agg(count(lit(1)).as("__df"))
      .agg(max(col("__df")).as("m")).collect()(0).getLong(0)
    require(maxDf <= cap,
      s"$what: fixture max posting df $maxDf exceeds maxPosting=$cap — the " +
        "operator's hot-posting cap would silently diverge from the oracle")
  }

  /** Below this corpus size, multi-stage compositions plan WITHOUT
    * AQE: at fixture scale every AQE exchange materialization is its
    * own Spark job (~0.2 s scheduling floor each), and a composite
    * like corpusClean pays 10+ of them — pure latency, no re-planning
    * value when the whole corpus fits one shuffle partition. At or
    * above the threshold the caller's session (AQE on: skew splits,
    * runtime coalescing) is used unchanged — the 100 TB path. */
  private val smallCorpusRows = 10L * 1000 * 1000

  /** Session a kernel composition should plan on: the caller's
    * session, or (small corpora only) a CLONE — shared SparkContext
    * and cache, private SQLConf — with AQE off and shuffle width
    * sized to the corpus, so the caller's own conf is never mutated
    * (same isolation pattern as StreamingQueries/connectedComponents
    * cloned sessions). */
  private def kernelSession(spark: SparkSession, dir: String,
      table: String = "documents"): SparkSession = {
    val n =
      try Tables.parquetRowCount(spark, s"$dir/$table.parquet")
      catch { case _: Throwable => Long.MaxValue } // unreadable → assume big
    if (n >= smallCorpusRows) spark
    else {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.shuffle.partitions", widenWidth(spark).toString)
      s
    }
  }

  // ------------------------------------------------------------- dedup

  /** Exact dedup groups over raw documents (DuckDB-oracle-checked);
    * the planted-copy behavior is asserted in DedupSpec. */
  def exactDedupGroups(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("content_hash")

  /** 128 hashes / 32 bands (r = 4): at the fixture's minimum true-pair
    * Jaccard (~0.82) the per-pair LSH miss probability is
    * (1 − 0.82⁴)³² ≈ 5e-9, so the recovered pair set is
    * deterministically the exact ≥ 0.5 set — which is what lets the
    * exhaustive-Jaccard DuckDB oracle hash-match a sketch-based
    * operator. */
  def minhashNearDups(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    Dedup.minhashPairs(withPlantedNearDups(s, dir), "doc_id", "text",
      numHashes = 128, bands = 32, shingleK = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  /** d28: INCREMENTAL near-dup dedup — the planted batch arrives as a
    * new increment against the untouched corpus, and only pairs
    * touching the increment are computed (new×old via one bucket join
    * against the corpus band index, new×new via the increment's
    * self-join). Same 128/32 parameters as d07, so the result is
    * deterministically d07's exact pair set restricted to pairs with
    * a planted side — which is exactly what the DuckDB oracle
    * recomputes exhaustively. The corpus never enumerates its own
    * pairs: this is the 0.1%-daily-increment shape at 100 TB. */
  def incrementalNearDups(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    val docs = Tables.documents(s, dir).select("doc_id", "text")
      .repartition(widenWidth(s), md5(col("text")))
    val increment = docs.filter(col("doc_id") < 40)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graftmark")).as("text"))
    Dedup.incrementalMinhashPairs(docs, increment, "doc_id", "text",
      numHashes = 128, bands = 32, shingleK = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  /** d29: INCREMENTAL exact dedup — a simulated re-crawl batch holds
    * three planted populations: verbatim copies of corpus docs (must
    * drop via the corpus hash index), genuinely new texts (the
    * ' graftmark' mutations — must survive), and a second copy of each
    * new text at a higher id (must collapse within the increment,
    * smallest id winning). Only the survivors' (id, content hash)
    * emerge; the corpus is touched for ONE distinct-hash projection —
    * the persisted index shape — and never re-deduped. */
  def incrementalExactDedupNew(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    val docs = Tables.documents(s, dir).select("doc_id", "text")
      .repartition(widenWidth(s), md5(col("text")))
    val src = docs.filter(col("doc_id") < 40 && col("text").isNotNull)
    def shifted(off: Long, t: Column) =
      src.select((col("doc_id") + off).as("doc_id"), t.as("text"))
    val increment = shifted(200000L, col("text"))
      .unionByName(shifted(100000L, concat(col("text"), lit(" graftmark"))))
      .unionByName(shifted(300000L, concat(col("text"), lit(" graftmark"))))
    Dedup.incrementalExactDedup(docs, increment, "doc_id", "text")
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .orderBy("doc_id")
  }

  /** Portable token hash so the DuckDB oracle recomputes identical
    * sketches; the pigeonhole chunk join guarantees exact recall at
    * hamming ≤ 6, so the output is exactly the hamming-≤-6 pair set
    * and hash-comparable. */
  def simhashNearDups(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    Dedup.simhashPairs(withPlantedNearDups(s, dir), "doc_id", "text",
      maxHamming = 6, portable = true)
      .orderBy("id_a", "id_b")
  }

  /** Uses the exhaustive counting join: the fixture's docs all share
    * one tiny vocabulary, so no shingle is rare and prefix filtering
    * prunes nothing while paying array-verification per candidate
    * (measured 1.7× slower here). On boilerplate-heavy zipfian text
    * (the crawl shape, measured via the z01/z02 bench rows) the
    * prefix-filtered [[Dedup.ngramJaccardPairs]] wins 2.2× and is
    * the scale path; route selection guidance lives in its scaladoc.
    * Equivalence of the two is spec-asserted on both corpus
    * shapes. */
  /** d47: cross-table FUZZY JOIN — the mutated copies of the first 40
    * docs (the planted near-dup set, as a standalone QUERY table)
    * matched against the whole original corpus by 3-gram Jaccard ≥
    * 0.4 through [[Dedup.fuzzyJoin]]'s prefix-filtered R-S route. The
    * oracle is the EXHAUSTIVE cross join, so the hash match certifies
    * the prefix route's exact recall on the R-S shape (d09 certifies
    * the self-join shape); each planted query must at minimum recover
    * its own original. */
  def fuzzyJoinPlanted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val queries = docs.filter(col("doc_id") < 40)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graftmark")).as("text"))
      .repartition(widenWidth(spark), md5(col("text")))
    val corpus = docs.repartition(widenWidth(spark), md5(col("text")))
    Dedup.fuzzyJoin(queries, corpus, "doc_id", "text",
      n = 3, threshold = 0.4)
      .orderBy("query_id", "corpus_id")
  }

  def ngramJaccardNearDups(spark: SparkSession, dir: String): DataFrame = {
    // caller's session (AQE on): the posting self-join is the one pair
    // stage where AQE's runtime broadcast/coalesce decisions beat the
    // static plan even at fixture scale (measured ~1.5-2x)
    val corpus = withPlantedNearDups(spark, dir)
    requireMaxDfBelow(corpus,
      graft.functions.SketchExpressions.shingleHashes(col("text"), 3), 1000,
      "d09 ngram Jaccard")
    Dedup.ngramJaccardPairsExhaustive(corpus, "doc_id", "text",
      n = 3, threshold = 0.4)
      .orderBy("id_a", "id_b")
  }

  /** Seeded ZIPFIAN-vocabulary corpus — the BENCH fixture that
    * measures the prefix-filter scale claims. The driver testdata's
    * documents share one tiny uniform vocabulary, where prefix
    * filtering provably loses (no shingle is rare — the measured
    * 1.7× trade documented at [[ngramJaccardNearDups]]); real text is
    * zipfian, where the PPJoin/Ed-Join prefix theorems say the rare-
    * shingle prefixes carry almost no posting mass. This generator
    * makes that corpus shape on demand: token j of doc i draws word
    * rank ⌊V^u⌋ (u uniform from a seeded xxhash64 — the inverse-CDF
    * draw for zipf s=1), giving P(rank r) ∝ 1/r over a `vocab`-word
    * vocabulary. Deterministic, distributed, no RNG state; NOT
    * oracle'd (it exists to be timed, not hash-matched — doubles in
    * the draw are fine). */
  private[operators] def zipfianDocs(spark: SparkSession, nDocs: Int,
      tokensPerDoc: Int = 60, vocab: Int = 20000, seed: Long = 77L,
      bpPhrases: Int = 0, bpLen: Int = 26): DataFrame = {
    val zipfPart = array_join(transform(sequence(lit(0), lit(tokensPerDoc - 1)), j =>
      concat(lit("w"), floor(pow(lit(vocab.toDouble),
        pmod(xxhash64(col("id") * tokensPerDoc + j + lit(seed)),
          lit(1000000007L)).cast("double") / 1e9 / 1.000000007))
        .cast("long").cast("string"))), " ")
    // BOILERPLATE band: every doc carries one of `bpPhrases` fixed
    // multi-token phrases (licence footers, site chrome, templated
    // intros — what real crawled text is full of). Phrase tokens are
    // phrase-unique, so each phrase contributes bpLen−2 shingles with
    // df ≈ nDocs/bpPhrases — the mid-band posting mass whose Σdf²
    // the exhaustive counting join pays and prefix filtering skips.
    val text =
      if (bpPhrases <= 0) zipfPart
      else {
        val pid = pmod(xxhash64(col("id") + lit(seed + 1)), lit(bpPhrases.toLong))
        concat(zipfPart, lit(" "),
          array_join(transform(sequence(lit(0), lit(bpLen - 1)), t =>
            concat(lit("bp"), pid.cast("string"), lit("x"), t.cast("string"))), " "))
      }
    spark.range(0, nDocs).select(col("id").as("doc_id"), text.as("text"))
      .repartition(widenWidth(spark), col("doc_id"))
  }

  /** Zipfian corpus with planted near-dup pairs (one appended token,
    * the [[withPlantedNearDups]] shape) — input for the z01/z02
    * jaccard bench twins. */
  private[operators] def zipfianWithNearDups(spark: SparkSession,
      nDocs: Int = 8000, planted: Int = 200, bpPhrases: Int = 12): DataFrame = {
    val base = zipfianDocs(spark, nDocs, bpPhrases = bpPhrases)
    val dups = base.filter(col("doc_id") < planted)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zzplanted")).as("text"))
    base.unionByName(dups).repartition(widenWidth(spark), col("doc_id"))
  }

  /** Zipfian corpus with planted excerpts (first 25 tokens re-joined,
    * the [[withPlantedExcerpts]] shape) — input for the z03/z04
    * containment bench twins. */
  private[operators] def zipfianWithExcerpts(spark: SparkSession,
      nDocs: Int = 8000, planted: Int = 200, bpPhrases: Int = 12): DataFrame = {
    val base = zipfianDocs(spark, nDocs, bpPhrases = bpPhrases)
    val excerpts = base.filter(col("doc_id") < planted)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        array_join(slice(TextFunctions.tokens(col("text")), 1, 25), " ").as("text"))
    base.unionByName(excerpts).repartition(widenWidth(spark), col("doc_id"))
  }

  // z01–z04: BENCH-ONLY twins measuring exhaustive vs prefix pair
  // routes on the zipfian corpus — the numbers behind the scale story
  // at Dedup.scala's prefix operators. Fixed-size synthetic input
  // (the `dir` argument is unused): these exist to compare the two
  // routes on the corpus shape real text has, at a size where the
  // difference is visible but bounded in the bench wall.
  def zipfJaccardExhaustive(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsExhaustive(zipfianWithNearDups(spark),
      "doc_id", "text", n = 3, threshold = 0.8)
  def zipfJaccardPrefix(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(zipfianWithNearDups(spark),
      "doc_id", "text", n = 3, threshold = 0.8)
  def zipfContainmentExhaustive(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(zipfianWithExcerpts(spark),
      "doc_id", "text", n = 3, threshold = 0.8)
  def zipfContainmentPrefix(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairsPrefix(zipfianWithExcerpts(spark),
      "doc_id", "text", n = 3, threshold = 0.8)

  /** documents plus a planted EXCERPT per low-id doc: the first 25
    * tokens re-joined as a new document at doc_id + 200000 — the
    * doc-in-doc duplication shape (a quote, a mirrored fragment)
    * that resemblance metrics structurally miss. Tokenization and
    * the 25-token slice are engine-portable (lowercase/trim/split +
    * 1-based inclusive slicing on both engines), so the oracle
    * re-plants identically. */
  private[operators] def withPlantedExcerpts(spark: SparkSession, dir: String,
      n: Int = 30, excerptTokens: Int = 25): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val excerpts = docs.filter(col("doc_id") < n && col("text").isNotNull)
      .select((col("doc_id") + 200000).as("doc_id"),
        array_join(slice(TextFunctions.tokens(col("text")), 1, excerptTokens), " ")
          .as("text"))
    docs.unionByName(excerpts)
      .repartition(widenWidth(spark), md5(col("text")))
  }

  /** d35: DIRECTED containment pairs over the excerpt-planted corpus
    * ([[Dedup.containmentPairs]]) — every planted excerpt must
    * surface as contained in its source (containment 1.0: all of its
    * shingles are the source's shingles), alongside whatever natural
    * doc-in-doc duplication the corpus carries. The quantized exact
    * ratio makes the full pair set hash-oracle-able. */
  def containmentNearDups(spark: SparkSession, dir: String): DataFrame = {
    // caller's session (AQE on): same posting self-join rationale as
    // ngramJaccardNearDups
    val corpus = withPlantedExcerpts(spark, dir)
    requireMaxDfBelow(corpus,
      graft.functions.SketchExpressions.shingleHashes(col("text"), 3), 1000,
      "d35 containment")
    Dedup.containmentPairs(corpus, "doc_id", "text",
      n = 3, threshold = 0.8)
      .orderBy("contained_id", "container_id")
  }

  /** Per-doc TITLES (first five tokens re-joined) plus a planted
    * one-character TYPO copy per low-id doc at doc_id + 300000
    * (character 3 replaced with 'z') — the dirty-entity shape record
    * linkage exists for. Token slicing and the substitution are
    * engine-portable string ops, so the oracle re-plants
    * identically. */
  private[operators] def withPlantedTypos(spark: SparkSession, dir: String,
      n: Int = 30): DataFrame = {
    val titles = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_join(slice(TextFunctions.tokens(col("text")), 1, 5), " ").as("title"))
    val typos = titles.filter(col("doc_id") < n)
      .select((col("doc_id") + 300000).as("doc_id"),
        concat(substring(col("title"), 1, 2), lit("z"),
          expr("substr(title, 4, 1000000)")).as("title"))
    titles.unionByName(typos)
      .repartition(widenWidth(spark), col("doc_id"))
  }

  /** d37: EDIT-DISTANCE pairs over the typo-planted titles
    * ([[Dedup.editDistancePairs]]), run the way real record linkage
    * runs: exact-duplicate titles collapse to one representative
    * (min doc_id) FIRST — the fixture's tiny vocabulary makes raw
    * titles collide heavily, and fuzzy-matching identical strings is
    * wasted quadratic work — then the fuzzy join links distinct
    * strings within distance 2. Every planted typo that survives as
    * its own representative links back to its source; the oracle
    * mirrors the dedup + candidate + verify chain exactly, and the
    * spec pins the operator to an all-pairs Levenshtein mirror. */
  def editDistanceNearDups(spark: SparkSession, dir: String): DataFrame = {
    val reps = withPlantedTypos(spark, dir)
      .groupBy("title").agg(min("doc_id").as("doc_id"))
    // mirror editDistancePairs' gram construction (5-grams of strings
    // long enough to participate) for the oracle-agreement guard: a
    // prefix gram hotter than the cap would DROP pairs the oracle keeps
    requireMaxDfBelow(reps.filter(length(col("title")) >= 5 * (2 + 1) + 2),
      array_distinct(transform(
        sequence(lit(1), length(col("title")) - 5 + 1),
        i => col("title").substr(i, lit(5)))), 1000,
      "d37 edit distance")
    Dedup.editDistancePairs(reps, "doc_id", "title", maxDist = 2)
      .orderBy("id_a", "id_b")
  }

  /** Near-dup clusters: connected components over the exact ≥ 0.4
    * Jaccard pair set — the transitive-closure step that turns pairs
    * into dedup groups. Oracled via a recursive-CTE closure in SQL. */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    nearDupClustersFrame(spark, dir).orderBy("doc_id")

  /** The (doc_id, cluster_id) assignment d13 emits and d27 consumes —
    * pair stage + connected components over the planted corpus. One
    * row per doc appearing in a ≥ threshold pair: tiny on clean
    * corpora, which is what lets SparkEntry memoize the collected
    * result across the two queries at verify/bench time. */
  def nearDupClustersFrame(spark: SparkSession, dir: String): DataFrame = {
    // UNSEALED pair stage: connectedComponents caches and drains its
    // edge set itself, so sealing the pair frame first would pay a
    // second full materialization chain (several AQE-staged jobs)
    // purely to unpersist early. The scope releases the pins after CC
    // returns its fully-materialized result.
    val scope = new graft.core.CacheScope
    val pairs = Dedup.ngramJaccardPairsExhaustiveUnsealed(
      withPlantedNearDups(spark, dir), "doc_id", "text",
      n = 3, threshold = 0.4, maxPosting = 1000, scope)
    val clusters = Dedup.connectedComponents(pairs)
    scope.release()
    clusters
  }

  /** d27: QUALITY-BASED cluster representatives — the retention
    * policy real dedup pipelines prefer over keep-min-id: within each
    * near-dup cluster keep the HIGHEST-QUALITY member (ties broken by
    * doc_id for determinism). Same planted corpus and cluster
    * construction as [[nearDupClusters]]; the representative pick is
    * one row_number window KEYED ON cluster_id over the (tiny)
    * cluster membership — the corpus-scale stages are unchanged, the
    * policy is a cheap epilogue. Returns one row per cluster:
    * (cluster_id, doc_id, quality, n_members). */
  def clusterRepresentatives(spark: SparkSession, dir: String): DataFrame =
    clusterRepresentativesFrom(nearDupClustersFrame(spark, dir), spark, dir)

  /** d27's retention-policy epilogue over an already-computed cluster
    * assignment ([[nearDupClustersFrame]] or SparkEntry's memoized
    * copy of it): one quality join + one cluster-keyed window over
    * the (tiny) membership frame. */
  def clusterRepresentativesFrom(clusters: DataFrame, spark: SparkSession,
      dir: String): DataFrame = {
    val quality = withPlantedNearDups(spark, dir).select(col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("quality"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id"))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("doc_id"), col("quality"),
        col("n_members").cast("long").as("n_members"))
      .orderBy("cluster_id")
  }

  /** d14: the composite cleaning pass a training-data pipeline runs
    * end-to-end over a raw corpus, one oracled query composed from
    * the operators above:
    *
    *  1. score quality + language per doc, gate on both
    *     (`quality >= 0.6 AND lang = en` — the filter runs FIRST so
    *     every later stage works on the shrunken survivor set);
    *  2. exact dedup by content hash, keep the smallest id;
    *  3. near-dup removal: exact n-gram-Jaccard pairs → connected
    *     components → keep each cluster's minimum id.
    *
    * Output = the surviving corpus with its scores. At 100 TB this
    * is the shape that matters: the cheap codegen'd gate prunes
    * before any pair generation, the pair stage shuffles bucket keys
    * only, and the closure runs on the (tiny) pair graph. */
  def corpusClean(spark: SparkSession, dir: String): DataFrame = {
    val scope = new graft.core.CacheScope
    val corpus = withPlantedNearDups(spark, dir)
    val gated = corpus.select(col("doc_id"), col("text"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.langId(col("text")).as("lang_pred"))
      .filter(col("quality") >= 0.6 && col("lang_pred") === "en")
    // Pinned: the survivor set (with its quality/lang text kernels)
    // feeds both the pair stage and the final representative join.
    val kept = scope.pin(Dedup.exactDedup(gated, "doc_id", "text"))
    // Unsealed pair stage (see nearDupClusters): CC materializes once;
    // the pins ride this scope and fall with the final sealResult.
    val pairs = Dedup.ngramJaccardPairsExhaustiveUnsealed(kept, "doc_id", "text",
      n = 3, threshold = 0.4, maxPosting = 1000, scope)
    val clusters = Dedup.connectedComponents(pairs)
    // cluster_id is the minimum reachable id, so the representative
    // is exactly the row whose own id equals it; unpaired docs pass.
    // No broadcast hint: clusters is one row per doc in any near-dup
    // pair — small on clean corpora, unbounded on duplicate-heavy
    // ones. AQE sees its actual size and picks broadcast vs shuffle.
    // seal the SORTED result: the cached handle then satisfies every
    // consumer (Verify's write, the driver's count) directly — an
    // uncached orderBy wrapper would re-sort per consumer
    val out = scope.sealResult(
      kept.join(clusters, Seq("doc_id"), "left_outer")
        .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        .select(col("doc_id"), col("lang_pred"), col("quality"))
        .orderBy("doc_id"))
    clusters.unpersist()
    out
  }

  /** documents with two deterministic boilerplate lines appended to
    * every doc — the fixture corpus has no naturally repeated lines,
    * and an operator that provably strips exactly its planted
    * boilerplate is the meaningful check (same planting philosophy as
    * [[withPlantedNearDups]]). The oracle re-plants in SQL. */
  private[operators] def withPlantedBoilerplate(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(col("text"),
          lit("\n-- graft footer --\nsubscribe to graft weekly")).as("text"))
      .repartition(widenWidth(spark), col("doc_id"))

  /** d20: LINE-level boilerplate dedup over the planted corpus
    * ([[Dedup.stripBoilerplateLines]]) — the repeated-footer removal
    * stage of published pretraining pipelines, hash-oracled (the
    * cleaned text is exact strings, so DuckDB recomputes its md5). */
  def lineDedupClean(spark: SparkSession, dir: String): DataFrame =
    Dedup.stripBoilerplateLines(withPlantedBoilerplate(spark, dir),
      "doc_id", "text", maxDocFreq = 10)
      .select(col("doc_id"),
        md5(col("text_clean").cast("binary")).as("clean_md5"),
        col("n_lines_kept"), col("n_lines_removed"))
      .orderBy("doc_id")

  /** d21: per-document REPETITION quality signals (the Gopher-rule
    * family): duplicate-line fraction, duplicate-5-gram fraction, and
    * the share of the most frequent 2-gram. Pure integer counting +
    * one double division per signal (quantized 4dp) — engine-portable
    * and hash-oracled. The line/gram counts are per-row expressions;
    * only the top-2-gram pass shuffles (explode → count → max),
    * keyed on doc_id. */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    def grams(n: Int) = when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    val ls = split(col("text"), "\n")
    val base = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .repartition(widenWidth(spark), col("doc_id"))
      .select(col("doc_id"),
        size(ls).cast("double").as("nl"),
        size(array_distinct(ls)).cast("double").as("dl"),
        size(grams(5)).cast("double").as("n5"),
        size(array_distinct(grams(5))).cast("double").as("d5"),
        grams(2).as("g2"))
    val top2 = base.select(col("doc_id"), explode_outer(col("g2")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        max(when(col("g").isNotNull, col("c")).otherwise(lit(0L))).cast("double").as("mc"),
        sum(when(col("g").isNotNull, col("c")).otherwise(lit(0L))).cast("double").as("tc"))
    val q4 = graft.functions.Quantize.quantize4 _
    base.join(top2, Seq("doc_id"))
      .select(col("doc_id"),
        q4(when(col("nl") > 0, (col("nl") - col("dl")) / col("nl")).otherwise(lit(0.0))).as("dup_line_frac"),
        q4(when(col("n5") > 0, (col("n5") - col("d5")) / col("n5")).otherwise(lit(0.0))).as("dup_5gram_frac"),
        q4(when(col("tc") > 0, col("mc") / col("tc")).otherwise(lit(0.0))).as("top_2gram_frac"))
      .orderBy("doc_id")
  }

  /** documents with deterministic PII spans appended to arithmetic
    * subsets of docs — the fixture corpus carries no natural PII (by
    * construction), so an operator that provably finds and scrubs
    * exactly its planted spans is the meaningful check (same planting
    * philosophy as [[withPlantedBoilerplate]]). Every planted value is
    * pure `doc_id` arithmetic so the oracle re-plants it in SQL. */
  private[operators] def withPlantedPii(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    def s(c: Column) = c.cast("string")
    Tables.documents(spark, dir)
      // null-text parity with the oracle's WHERE text IS NOT NULL —
      // without it a null-text doc would emit a null row the oracle
      // omits (the fixture happens to have none; don't depend on that)
      .filter(col("text").isNotNull)
      .select(id,
        concat(col("text"),
          when(pmod(id, lit(3)) === 0,
            concat(lit(" contact user"), s(id), lit("@example.com now")))
            .otherwise(lit("")),
          when(pmod(id, lit(5)) === 0,
            concat(lit(" call 555-867-"), lpad(s(pmod(id, lit(10000))), 4, "0"),
              lit(" today"))).otherwise(lit("")),
          when(pmod(id, lit(7)) === 0,
            concat(lit(" from 10."), s(pmod(id, lit(200))), lit("."),
              s(pmod(id, lit(100))), lit("."), s(pmod(id, lit(250))),
              lit(" logged"))).otherwise(lit(""))).as("text"))
      .repartition(widenWidth(spark), col("doc_id"))
  }

  /** d23: PII SCRUB — the redaction stage every published pretraining
    * pipeline runs before training: emails / phone numbers / IPv4s
    * replaced by typed tags ([[TextFunctions.scrubPii]]), plus the
    * per-category match counts as the audit metric. All per-row
    * codegen'd regexp expressions over one scan — no shuffle, no UDF;
    * at 100 TB this pipelines inside the read stage. Hash-oracled:
    * the scrubbed text is exact strings, so DuckDB recomputes its md5
    * from the identically re-planted corpus. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val (ne, np, ni) = TextFunctions.piiCounts(col("text"))
    withPlantedPii(spark, dir)
      .select(col("doc_id"),
        md5(TextFunctions.scrubPii(col("text")).cast("binary")).as("scrub_md5"),
        ne.as("n_emails"), np.as("n_phones"), ni.as("n_ips"))
      .orderBy("doc_id")
  }

  /** documents with deterministic URLs appended: every 4th doc gets a
    * benign link, every 10th an ad-tracker link from a 5-domain
    * blocklist family — again pure doc_id arithmetic, re-planted by
    * the oracle in SQL. */
  private[operators] def withPlantedUrls(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    def s(c: Column) = c.cast("string")
    Tables.documents(spark, dir)
      // null-text parity with the oracle (see withPlantedPii)
      .filter(col("text").isNotNull)
      .select(id,
        concat(col("text"),
          when(pmod(id, lit(4)) === 0,
            concat(lit(" see https://site"), s(pmod(id, lit(50))),
              lit(".example.org/p/"), s(id), lit(" ok"))).otherwise(lit("")),
          // (doc_id div 10) mod 5, NOT doc_id mod 5: every 10th doc
          // is also a multiple of 5, which would pin every planted
          // tracker to ads0 and leave the rest of the blocklist
          // unexercised
          when(pmod(id, lit(10)) === 0,
            concat(lit(" ref http://ads"), s(pmod(expr("doc_id div 10"), lit(5))),
              lit(".blocked.net/x"))).otherwise(lit(""))).as("text"))
      .repartition(widenWidth(spark), col("doc_id"))
  }

  /** The ad/tracker domains [[urlDomainFilter]] rejects — tiny by
    * nature (real blocklists are 10^4..10^6 rows), so it rides a
    * BROADCAST join; the corpus side never shuffles on domain. */
  private[operators] val BlockedDomains: Seq[String] =
    (0 until 5).map(i => s"ads$i.blocked.net")

  /** d24: URL extraction + DOMAIN-BLOCKLIST filter — the link-level
    * hygiene stage (CCNet/RefinedWeb-style): extract every URL, join
    * its host against a blocklist, and emit per-doc link counts plus
    * the keep/drop decision. Scale shape: per-row regexp extraction
    * pipelines in the scan; the explode is ids+domains only (never
    * text); the blocklist side is `broadcast()` so the corpus never
    * shuffles on domain; the count-back aggregation shuffles ids and
    * two longs, keyed on doc_id. */
  def urlDomainFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUrl = withPlantedUrls(spark, dir)
      .select(col("doc_id"), explode_outer(TextFunctions.urls(col("text"))).as("url"))
      .select(col("doc_id"), TextFunctions.urlDomain(col("url")).as("domain"))
    val block = BlockedDomains.toDF("domain").withColumn("blocked", lit(true))
    perUrl.join(broadcast(block), Seq("domain"), "left")
      .groupBy("doc_id")
      .agg(count(col("domain")).as("n_urls"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"))
      .select(col("doc_id"), col("n_urls"), col("n_blocked"),
        (col("n_blocked") === 0).as("keep"))
      .orderBy("doc_id")
  }

  /** documents with a shared 12-token slogan appended to every 6th
    * doc. The fixture corpus already carries NATURAL cross-doc
    * duplicated 8-grams (its generator repeats phrases across docs —
    * real signal the operator must count too, and the oracle
    * recomputes); the planting adds a KNOWN exact delta on top: 5
    * pure-slogan grams per planted doc. Two guards make the delta
    * exact: a `u<doc_id>` token separates doc tail from slogan, so
    * every boundary gram carries a token unique to its doc (two
    * planted docs ending in the same word would otherwise share a
    * boundary gram); and the mid-slogan token `graftx` is outside the
    * fixture vocabulary and sits in ALL five pure grams, so none can
    * occur naturally. Re-planted by the oracle in SQL. */
  private[operators] def withPlantedSlogan(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(6)) === 0,
            concat(lit(" u"), col("doc_id").cast("string"),
              lit(" data engine scale spark graftx join hash merge sort batch stream window")))
            .otherwise(lit(""))).as("text"))
      .repartition(widenWidth(spark), col("doc_id"))

  /** d25: cross-document DUPLICATE-SPAN coverage over the planted
    * corpus ([[Dedup.dupSpanCoverage]]) — the detection metric of
    * exact-substring dedup: which token positions sit inside an
    * 8-gram that recurs verbatim in another document, and what
    * fraction of each doc those spans cover. Hash-oracled: integer
    * counts plus the shared floor-half-up 4dp coverage fraction. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupSpanCoverage(withPlantedSlogan(spark, dir), "doc_id", "text", k = 8)
      .orderBy("doc_id")

  /** d22: SEQUENCE PACKING — the concat-and-cut step that turns a
    * cleaned corpus into fixed-length training sequences: the token
    * stream (docs in deterministic doc_id order) is cut at `seqLen`
    * boundaries, documents spanning a boundary split across
    * consecutive sequences. Output is the packing MANIFEST: one row
    * per (sequence, contributing document) with the token count it
    * contributes — exactly what a loader needs to materialize packed
    * batches without ever concatenating text in the engine.
    *
    * The running token offset is a TWO-PHASE DISTRIBUTED PREFIX-SUM,
    * never a per-language window: a real corpus is majority one
    * language, so `sum(n) over (partition by lang order by doc_id)`
    * would pack the dominant stratum in a single task. Instead:
    *
    *  1. range-partition the minimal (doc_id, lang, n) projection on
    *     (lang, doc_id) and MATERIALIZE the partition id as data —
    *     within one range partition, each language's docs are a
    *     contiguous doc_id interval, and every earlier pid holds only
    *     smaller doc_ids of that language;
    *  2. per-(pid, lang) token subtotals — O(partitions × languages)
    *     rows — then each slice's global offset via a cumulative sum
    *     over that TINY frame (the only per-lang window left runs
    *     over subtotals, not documents);
    *  3. broadcast the offsets back and finish with a partition-LOCAL
    *     running sum: the document-stream window partitions by
    *     (pid, lang), so no window group ever exceeds one range
    *     partition — parallelism is O(partitions) regardless of how
    *     skewed the language mix is.
    *
    * The pid column is written to a [[graft.core.RunTemp]] staging dir
    * rather than recomputed because a re-evaluated range exchange may
    * re-sample its bounds — phase 2 must see the SAME pids phase 1
    * aggregated. Offsets are identical to the single-window form, so
    * the manifest stays hash-oracled byte-for-byte. */
  def packSequences(spark: SparkSession, dir: String, seqLen: Long = 256L): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("n"))
      .filter(col("n") > 0) // tokenless docs contribute nothing to the stream
    val parts = spark.sessionState.conf.numShufflePartitions
    val tmp = graft.core.RunTemp.dir("graft_pack_")
    base.repartitionByRange(parts, col("lang"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .write.mode("overwrite").parquet(tmp)
    val staged = spark.read.parquet(tmp)
    // global offset of each (pid, lang) slice = tokens of the same
    // language in all earlier pids; the frame under this window is
    // subtotals (≤ parts × langs rows), not the corpus
    val sub = staged.groupBy("pid", "lang").agg(sum(col("n")).as("sub"))
    val wOff = Window.partitionBy("lang").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = sub.withColumn("off", coalesce(sum(col("sub")).over(wOff), lit(0L)))
      .select("pid", "lang", "off")
    // partition-local running sum: window groups are (pid, lang)
    // slices — each at most one range partition of documents
    val wLocal = Window.partitionBy("pid", "lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // all offsets are non-negative and far below 2^53, so the
    // double-division floor is exact here (contrast RangeJoin.bandOf,
    // which must survive arbitrary epochs)
    def seqOf(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(p / seqLen).cast("long")
    staged.join(broadcast(off), Seq("pid", "lang"))
      .withColumn("start", col("off") + coalesce(sum(col("n")).over(wLocal), lit(0L)))
      .withColumn("seq_id",
        explode(sequence(seqOf(col("start")), seqOf(col("start") + col("n") - 1))))
      .select(col("lang"), col("seq_id"), col("doc_id"),
        (least((col("seq_id") + 1) * seqLen, col("start") + col("n")) -
          greatest(col("seq_id") * seqLen, col("start"))).as("n_tokens"))
      .orderBy("lang", "seq_id", "doc_id")
  }

  /** r01: BM25 keyword retrieval — each query is the first four
    * tokens of one of the first five documents (a deterministic,
    * corpus-derived query workload the oracle re-derives
    * identically), scored against the whole corpus, top-5 per query.
    * Integer micro-unit scores make the ranking engine-portable; the
    * DuckDB oracle recomputes tokenization, df/tf, corpus stats, and
    * the full BM25 formula from scratch. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    val docs = Tables.documents(s, dir).select("doc_id", "text")
      .repartition(widenWidth(s), md5(col("text")))
    val queries = docs
      .filter(col("doc_id") < 5 && col("text").isNotNull)
      .select(col("doc_id").as("query_id"),
        explode(slice(TextFunctions.tokens(col("text")), 1, 4)).as("term"))
      .distinct()
    Retrieval.bm25TopK(docs, "doc_id", "text", queries, k = 5)
      .orderBy("query_id", "rank")
  }

  /** r03: HYBRID RETRIEVAL — BM25 lexical ranking and brute-force
    * cosine vector ranking over the SAME item space (doc_id ≡
    * vec_id in the fixtures), fused by reciprocal rank
    * ([[Retrieval.rrfFuse]]) into one top-5. This is the modern
    * search-stack shape: each modality retrieves top-`depth`
    * independently (each already certified by its own gate — r01 and
    * v01), and fusion is rank-arithmetic on the pruned candidate
    * pools — integer-exact, so the DuckDB oracle recomputes both
    * chains from scratch and must land the identical fused page. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    val docs = Tables.documents(s, dir).select("doc_id", "text")
      .repartition(widenWidth(s), md5(col("text")))
    val queries = docs
      .filter(col("doc_id") < 5 && col("text").isNotNull)
      .select(col("doc_id").as("query_id"),
        explode(slice(TextFunctions.tokens(col("text")), 1, 4)).as("term"))
      .distinct()
    val lex = Retrieval.bm25TopK(docs, "doc_id", "text", queries, k = 20)
      .select(col("query_id"), col("doc_id").as("item_id"), col("rank"))
    val emb = Tables.embeddings(s, dir)
    val vec = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 20,
      queries = Some(emb.filter(col("vec_id") < 5)))
      .select(col("query_id"), col("nbr_id").as("item_id"), col("rank"))
    Retrieval.rrfFuse(Seq(lex, vec), k = 5)
      .orderBy("query_id", "rank")
  }

  /** d30: TRAINING-SHARD writer — the corpus deterministically
    * shuffled into 8 parquet shards on disk plus the per-shard
    * manifest a trainer's loader consumes. The manifest aggregates
    * the READ-BACK shards (like v08's saved-index search, it
    * certifies the persisted artifact, not the intent), and every
    * manifest cell — counts, token sums, id ranges, the
    * fingerprint-sum checksum — is recomputed independently by the
    * oracle from raw text, so a wrong shard assignment, a dropped
    * row, or a corrupted write all break the hash. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    val docs = Tables.documents(s, dir).select("doc_id", "text")
      .repartition(widenWidth(s), md5(col("text")))
    // shard dirs are deployment artifacts read lazily by the loader
    // frame — same RunTemp floor rationale as the saved IVF index
    val outDir = graft.core.RunTemp.dir("graft_shards_", keep = 32)
    val shards = Sharding.writeShards(docs, "doc_id", "text", nShards = 8, outDir)
    Sharding.manifest(shards, "doc_id").orderBy("shard")
  }

  /** d34: INCREMENTAL shard maintenance — corpus shards built once,
    * then a new batch (docs 40–79 mutated with ' graftshard', ids
    * +400000) APPENDED into the existing shard layout; the manifest
    * aggregates the read-back combined shards. The oracle recomputes
    * the manifest over corpus ∪ increment from raw text — a hash
    * match proves append ≡ rebuild, i.e. the incremental path loses
    * nothing and moves only the increment's bytes. */
  def shardAppendManifest(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    val docs = Tables.documents(s, dir).select("doc_id", "text")
      .repartition(widenWidth(s), md5(col("text")))
    val increment = docs
      .filter(col("doc_id") >= 40 && col("doc_id") < 80 && col("text").isNotNull)
      .select((col("doc_id") + 400000L).as("doc_id"),
        concat(col("text"), lit(" graftshard")).as("text"))
    val outDir = graft.core.RunTemp.dir("graft_shards_", keep = 32)
    Sharding.writeShards(docs, "doc_id", "text", nShards = 8, outDir)
    val combined = Sharding.appendShards(increment, "doc_id", "text", 8, outDir)
    Sharding.manifest(combined, "doc_id").orderBy("shard")
  }

  /** d16: deterministic train/val/test assignment — bucket = the
    * portable document fingerprint mod 100, split by 80/10/10. The
    * split is a pure per-row expression (no shuffle, no sampling
    * state): any engine — and any re-run over a grown corpus — assigns
    * the same document to the same split, which is the property that
    * keeps eval sets stable while a 100 TB corpus is re-ingested. */
  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // tokenless docs (null or whitespace-only text) carry no signal
      // to fingerprint — excluded on BOTH sides (the oracle's unnest
      // over an empty token list drops them naturally)
      .filter(col("text").isNotNull && TextFunctions.tokenCount(col("text")) > 0)
      .select(col("doc_id"),
        pmod(TextFunctions.fingerprintPortable64(col("text")), lit(100L)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .orderBy("doc_id")

  /** d49: GROUP-AWARE train/val/test split — d16's deterministic
    * hash split made NEAR-DUP SAFE: the split key is the document's
    * near-dup CLUSTER id (its cluster's minimum member id, from the
    * d13 closure) rather than the document itself, so a near-dup pair
    * can never straddle train and eval — the leakage mode a per-doc
    * split provably has on any corpus with duplicates (the planted
    * mutation of a train doc landing in val IS memorization leak).
    * Unclustered documents key on their own id. Bucketing is the
    * portable 48-bit md5 prefix mod 100 (< 80 train, < 90 val, else
    * test) — group-key-based, so the rule needs no second pass over
    * text.
    *
    * Scale shape: the cluster assignment is the d13 artifact (one
    * near-dup pass the pipeline already ran); the split itself is one
    * broadcast-able left join + a hash — O(corpus) with no new pair
    * work. */
  def groupAwareSplitFrom(clusters: DataFrame, spark: SparkSession,
      dir: String): DataFrame = {
    val docs = withPlantedNearDups(spark, dir)
      .filter(col("text").isNotNull)
      .select("doc_id")
    docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("group_key", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket",
        pmod(conv(substring(md5(col("group_key").cast("string")), 1, 12), 16, 10)
          .cast("long"), lit(100L)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .select("doc_id", "group_key", "bucket", "split")
      .orderBy("doc_id")
  }

  /** d26: WEIGHTED MIXTURE sampling — the data-mixing stage that
    * turns per-source sampling weights into a concrete subcorpus
    * (what the published pipelines do when combining web/books/code
    * at fixed ratios). The keep decision compares the portable
    * content fingerprint mod 10000 to the source's cut — a pure
    * per-row expression: no shuffle, no sampling state, deterministic
    * under re-ingest, engine-portable (the oracle reproduces every
    * keep bit). Weights here derive from the fixture's source id
    * (`srcN` → (N mod 4 + 1)·0.2, i.e. 0.2/0.4/0.6/0.8); a real run
    * would broadcast-join a weights table — the decision expression
    * is unchanged. */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull && TextFunctions.tokenCount(col("text")) > 0)
      .select(col("doc_id"), col("source"),
        pmod(TextFunctions.fingerprintPortable64(col("text")), lit(10000L)).as("u"),
        ((substring(col("source"), 4, 10).cast("long") % 4 + 1) * 2000L).as("cut"))
      .filter(col("u") < col("cut"))
      .orderBy("doc_id")

  /** d33: LM-perplexity quality filtering — the CCNet-style stage
    * that scores every document by an n-gram language model trained
    * on a trusted reference slice and keeps the low-perplexity side.
    * Here the model is an add-one-smoothed bigram LM over the
    * reference docs (doc_id < 100): score = mean over the doc's
    * bigrams of -ln P(w2|w1), P = (C(w1,w2)+1)/(C(w1)+V).
    *
    * Shape at scale: the trained model IS a broadcast artifact
    * (bigram counts + unigram counts + vocab size — the KenLM-file
    * analogy), the corpus pays one bigram explode with two broadcast
    * joins and one doc-keyed aggregate. Engine portability: each
    * bigram's -ln P quantizes to integer micro-units (the ln of a
    * ratio of exact integers) BEFORE the per-doc sum, and the mean is
    * integer floor-division — the oracle reproduces every score. */
  def perplexityFilter(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    perplexityFilterOf(
      Tables.documents(s, dir).select("doc_id", "text")
        .repartition(widenWidth(s), md5(col("text"))),
      refBelow = 100L, thresholdMicro = PerplexityThresholdMicro)
  }

  /** Fixture-calibrated keep threshold (micro-nats of mean bigram
    * NLL): sits between the reference-like and out-of-domain score
    * populations so both keep classes are exercised. */
  private val PerplexityThresholdMicro = 3470000L

  /** Corpus-generic form: `docs` carries (doc_id, text); ids below
    * `refBelow` train the bigram model; a doc keeps iff its mean
    * bigram NLL (micro-nats, integer mean) is below
    * `thresholdMicro`. Docs with fewer than two tokens carry no
    * bigram evidence and are excluded (as the oracle's empty range
    * does naturally). */
  def perplexityFilterOf(docs: DataFrame, refBelow: Long,
      thresholdMicro: Long): DataFrame = {
    val tokenized = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    val ref = tokenized.filter(col("doc_id") < refBelow)
    val uni = ref.select(explode(col("toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    // Materialize the vocab size eagerly: an EMPTY reference slice
    // would otherwise flow ln(0/1) = -Inf → null through every score
    // and silently null the whole keep column — an unusable model
    // must fail loudly instead. The model is driver-visible by design
    // (the KenLM analogy), so this one tiny aggregate job is in
    // contract; it also replaces the 1-row broadcast with a literal.
    val vocabSize = uni.agg(count(lit(1))).head().getLong(0)
    require(vocabSize > 0,
      s"perplexity filter: reference slice (doc_id < $refBelow) has no " +
        "tokens — no language model can be trained from it")
    def bigrams(df: DataFrame, keep: Column*) = df
      .filter(size(col("toks")) >= 2)
      .select(keep :+ explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("bg"): _*)
      .select(keep :+ col("bg.w1") :+ col("bg.w2"): _*)
    val big = bigrams(ref)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val scored = bigrams(tokenized, col("doc_id"))
      .join(broadcast(big), Seq("w1", "w2"), "left")
      .join(broadcast(uni), Seq("w1"), "left")
      .select(col("doc_id"),
        floor(log((coalesce(col("c1"), lit(0L)) + lit(vocabSize)).cast("double") /
          (coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double"))
          * lit(1000000) + lit(0.5)).cast("long").as("c"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("nll"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("nll div n_bigrams").as("avg_nll_micro"))
      .withColumn("keep", col("avg_nll_micro") < thresholdMicro)
      .orderBy("doc_id")
  }

  /** g01: PageRank centrality over the part–supplier bipartite graph
    * (distinct lineitem (part, supplier) pairs, both directions —
    * every node has degree ≥ 1, so no dangling mass). Which suppliers
    * sit at the center of the supply network is the graph-analytics
    * representative: 3 damped iterations of the integer-exact
    * formulation ([[Graph.pageRankIntExact]]), top-100 nodes by
    * (rank desc, node asc) — a total order, and every unit of it
    * re-derivable by the oracle's unrolled SQL. Node encoding packs
    * both partitions into one BIGINT key (part → 2k, supplier →
    * 2k+1), decoded back to (node_type, node_id) for the output. */
  def pageRankSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, dir)
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val edges = pairs.select(col("p").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("p").as("dst")))
    val pr = Graph.pageRankIntExact(edges, iters = 3)
    val w = Window.orderBy(col("rank_units").desc, col("node"))
    pr.orderBy(col("rank_units").desc, col("node")).limit(100)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(
        when(col("node") % 2 === 0, lit("part")).otherwise(lit("supplier")).as("node_type"),
        expr("node div 2").as("node_id"),
        col("rank_units"), col("rank"))
      .orderBy("rank")
  }

  /** g02: per-part triangle counts over the CO-ORDER graph — parts
    * are adjacent when some order contains both (the co-purchase
    * graph driving "bought together" analytics). Edge derivation is
    * a self-equi-join on the order key (order sizes are bounded, so
    * pair fan-out is a constant factor on lineitem) collapsed to the
    * canonical distinct (u < v) edge list; counting rides
    * [[Graph.triangleCounts]]'s degree-ordered orientation. The
    * oracle recounts via the INDEPENDENT canonical id-orientation
    * 3-way join — two different algorithms agreeing on every
    * per-node count is the certificate. */
  /** Canonical distinct (u < v) co-order edge list — the shared input
    * of g02 and g03. Derivation is the expensive half of either query
    * (self-equi-join + distinct over lineitem); the harness memoizes
    * a checkpointed handle so one pass pays it once. */
  def coOrderEdges(spark: SparkSession, dir: String): DataFrame = {
    // ONE shuffle (group lineitem by order), then in-task pair
    // expansion from the per-order part set — the self-equi-join
    // formulation scans and shuffles lineitem TWICE for the same
    // pairs (measured ~1.5× slower building the shared graph memo).
    // Order sizes are bounded (TPC-H ≤ 7 items), so the per-order
    // fan-out is a small constant; collect_set dedups within the
    // order, the trailing distinct dedups across orders.
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
      // EXPLICIT width into the per-order aggregation: the pair
      // expansion after it is CPU-heavy over byte-small rows, and
      // AQE's byte-based coalescing was collapsing the whole
      // derivation to 3-4 tasks at sf0.1 (~3 s of the shared-memo
      // build). The repartition keys on the groupBy key, so the
      // aggregation reuses the exchange — this widens, it does not
      // add a shuffle. Session-width count = cluster-adaptive.
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("l_orderkey"))
    li.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(sort_array(col("ps")).as("ps"))
      .select(explode(flatten(transform(col("ps"), (a, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))),
          b => struct(a.as("u"), b.as("v")))))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      // weight = number of shared orders: the same aggregate that
      // deduped the edge list before (distinct ≡ groupBy) now keeps
      // the multiplicity, so the weighted consumers (g06) ride the
      // SAME memoized handle and the unweighted ones just never
      // select `w`
      .groupBy("u", "v").agg(count(lit(1)).as("w"))
  }

  def triangleCoOrder(spark: SparkSession, dir: String): DataFrame =
    triangleCoOrderFrom(coOrderEdges(spark, dir))

  /** Corpus-generic form over a prepared edge list (the shared-memo
    * entry point). */
  def triangleCoOrderFrom(edges: DataFrame): DataFrame =
    Graph.triangleCounts(edges)
      .select(col("node").as("part_id"), col("n_triangles"))
      .orderBy("part_id")

  /** g03: communities on the co-order graph — 4 synchronous
    * label-propagation rounds over g02's edge set (parts are linked
    * when some order contains both). Four rounds is past this graph's
    * mixing point for the dense cores while keeping the oracle's
    * unrolled CTE chain readable; the round count is the contract
    * (see [[Graph.labelPropagation]]). */
  def lpaCoOrder(spark: SparkSession, dir: String, iters: Int = 4): DataFrame =
    lpaCoOrderFrom(coOrderEdges(spark, dir), iters)

  /** Corpus-generic form over a prepared edge list (the shared-memo
    * entry point). */
  def lpaCoOrderFrom(edges: DataFrame, iters: Int = 4): DataFrame =
    Graph.labelPropagation(edges, iters)
      .select(col("node").as("part_id"), col("label").as("community"))
      .orderBy("part_id")

  /** g04: multi-source BFS proximity on the co-order graph — minimum
    * hop distance (≤ 3) and deterministic nearest seed for every part
    * within 3 hops of the low-id seed parts. Bounded depth is the
    * oracle-unrollable contract ([[Graph.bfsDistances]]); rides the
    * same memoized co-order edge handle as g02/g03. */
  def bfsCoOrderFrom(edges: DataFrame, maxSeed: Long = 20L,
      maxDepth: Int = 3): DataFrame = {
    val seeds = edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node")))
      .filter(col("node") <= maxSeed).distinct()
    Graph.bfsDistances(edges, seeds, maxDepth)
      .select(col("node").as("part_id"), col("dist"), col("nearest_seed"))
      .orderBy("part_id")
  }

  /** g05: bounded k-core peel of the co-order graph — 3 rounds of
    * dropping nodes below the scale-free degree threshold (the p10
    * degree quantile), keeping the well-connected center of the
    * co-purchase graph. Output is each survivor's degree INSIDE the
    * surviving subgraph. Bounded rounds is the oracle-unrollable
    * contract ([[Graph.kCorePeel]]); rides the same memoized co-order
    * edge handle as g02–g04. */
  def kcoreCoOrderFrom(edges: DataFrame, rounds: Int = 3): DataFrame =
    Graph.kCorePeel(edges, rounds)
      .select(col("node").as("part_id"), col("deg").as("core_deg"))
      .orderBy("part_id")

  /** r02: TF-IDF keyword extraction over the corpus — top-3 terms
    * per document, fully re-derivable by the oracle (single-product
    * scores, no float summation anywhere). */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    Retrieval.tfidfKeywords(
      Tables.documents(s, dir).select("doc_id", "text")
        .repartition(widenWidth(s), md5(col("text"))),
      "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")
  }

  /** d32: BPE merge-candidate counts — the first iteration of BPE
    * tokenizer training: adjacent-character pair frequencies across
    * the corpus, weighted by word frequency, top-50 candidates. The
    * published trainers run exactly this loop (count pairs → merge
    * the winner → recount); one iteration is the representative
    * kernel and each further round is the same shape over a rewritten
    * vocab.
    *
    * Shape at scale: the corpus-sized pass is ONE token explode into
    * a hash aggregate (map-side partials shrink it to the vocabulary
    * before shuffle); everything after — char-pair explode, pair
    * aggregate, top-k — runs on VOCAB-sized data, orders of magnitude
    * smaller than the corpus. The top-50 is orderBy+limit
    * (TakeOrdered, distributed) with the rank window applied to the
    * already-limited 50 rows. */
  def bpePairCounts(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    bpePairCountsOf(
      Tables.documents(s, dir).select("doc_id", "text")
        .repartition(widenWidth(s), md5(col("text"))),
      "text", topN = 50)
  }

  /** Corpus-generic form (spec-drivable on constructed frames).
    * Characters are codepoints in BOTH engines: the `(?s).` extraction
    * matches one codepoint under Java regex and RE2 alike — the same
    * portability trick the fingerprint chain uses. */
  def bpePairCountsOf(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    val words = docs
      .filter(col(textCol).isNotNull)
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val pairs = words
      .withColumn("cs", regexp_extract_all(col("w"), lit("(?s)."), lit(0)))
      .filter(size(col("cs")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(1), size(col("cs")) - 1),
        i => concat(element_at(col("cs"), i), element_at(col("cs"), i + 1)))).as("pair"))
    val counts = pairs.groupBy("pair").agg(sum(col("freq")).as("n"))
    counts.orderBy(col("n").desc, col("pair")).limit(topN)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("pair"))).cast("long"))
      .orderBy("rank")
  }

  /** Symbol-boundary separator for the BPE training loop's wrapped
    * string representation (U+001F unit separator). Words containing
    * it are excluded up front — documented contract, mirrored in the
    * oracle — so the representation is unambiguous. */
  private val BpeSep = "\u001f"

  /** d38: ITERATED BPE merge-loop training — the full tokenizer-
    * training loop d32 runs one step of: count adjacent-symbol pair
    * frequencies (word-frequency weighted) → merge the winner →
    * re-segment → repeat, emitting the ordered MERGE TABLE (the BPE
    * model artifact; the vocab is the initial codepoints plus these
    * merged symbols). nMerges = 30 over the documents corpus.
    *
    * The re-segmentation trick that keeps this portable AND cheap:
    * each word's segmentation is ONE string with every symbol wrapped
    * in U+001F separators (`␟a␟␟b␟…`), so applying merge (a,b) is a
    * literal leftmost-non-overlapping `replace(s, "␟a␟␟b␟", "␟ab␟")`
    * — identical semantics in Java, Spark SQL, and DuckDB, no custom
    * expression, and the oracle unrolls the loop as generated CTEs
    * (the g01 PageRank pattern). Wrapping per symbol means adjacent
    * matches never share separator chars, so leftmost-continue
    * replacement IS the classic single-pass BPE merge.
    *
    * Scale shape: the corpus-sized pass is the ONE word-frequency
    * aggregate (map-side combined); the merge loop runs on
    * VOCAB-sized data. Two spec-pinned-equal execution paths, the
    * d13 capped-probe pattern: at or below `driverVocabCap` distinct
    * words the loop runs driver-local (a tokenizer trainer's word
    * table is the model input — the HF/GPT-2 trainers are exactly
    * this shape); above it, each iteration is a distributed pair
    * aggregate + one-row winner collect + a `replace` map, with a
    * re-cache every `cacheEvery` iterations to bound lineage (the
    * PageRank checkpoint-cadence discipline). */
  def bpeTrainMerges(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    bpeTrainMergesOf(
      Tables.documents(s, dir).select("doc_id", "text")
        .repartition(widenWidth(s), md5(col("text"))),
      "text", nMerges = 30)
  }

  /** Corpus-generic form (spec-drivable on constructed frames). */
  def bpeTrainMergesOf(docs: DataFrame, textCol: String, nMerges: Int,
      driverVocabCap: Long = 1000000L, cacheEvery: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    val (merges, _, release) =
      bpeTrainFullOf(docs, textCol, nMerges, driverVocabCap, cacheEvery)
    release()
    import spark.implicits._
    merges.toDF("merge_rank", "left_sym", "right_sym", "merged", "n")
      .orderBy("merge_rank")
  }

  /** d39: the TRAINED symbol table — run the d38 merge loop, then
    * aggregate the final segmentation into the post-training symbol
    * inventory (symbol, weighted occurrence count, codepoint length):
    * the "final vocab" a tokenizer ships alongside its merge list,
    * and the table whose tail you inspect to decide the next vocab
    * size. One extra vocab-sized aggregate on top of training; the
    * oracle reuses d38's unrolled loop CTEs and reads seg_N. */
  def bpeSymbols(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    bpeSymbolsOf(
      Tables.documents(s, dir).select("doc_id", "text")
        .repartition(widenWidth(s), md5(col("text"))),
      "text", nMerges = 30)
  }

  /** Corpus-generic form of [[bpeSymbols]]. */
  def bpeSymbolsOf(docs: DataFrame, textCol: String, nMerges: Int,
      driverVocabCap: Long = 1000000L, cacheEvery: Int = 8): DataFrame = {
    val (_, seg, release) =
      bpeTrainFullOf(docs, textCol, nMerges, driverVocabCap, cacheEvery)
    val out = seg
      .withColumn("symbol", explode(split(
        col("s").substr(lit(2), length(col("s")) - 2), BpeSep + BpeSep)))
      .groupBy("symbol").agg(sum("freq").as("n"))
      .withColumn("n_chars", length(col("symbol")).cast("long"))
      .orderBy("symbol")
      .cache()
    out.count()
    release()
    out
  }

  /** d40: ENCODE the corpus with the TRAINED tokenizer — the loop
    * closes train → encode: run the d38 merge loop, then charge every
    * document its token count under the resulting segmentation. This
    * is the "how many tokens is my corpus, under MY tokenizer"
    * pass every training-data pipeline runs before packing/pricing
    * (d11/d17 count under a fixed regex proxy; this counts under the
    * trained model).
    *
    * The scale trick: a word's encoding is a pure function of the
    * word, and the training loop ALREADY holds the final segmentation
    * of every distinct corpus word — so encoding is not a per-document
    * re-application of 30 merges but ONE broadcast join: unwrap the
    * segmentation table to (word → n_syms) (vocab-sized — it is the
    * model artifact, and models broadcast: the d05/d33 discipline) and
    * join it to the exploded token stream. The corpus-sized side never
    * shuffles; the per-doc aggregate map-side combines. Words the
    * trainer excluded (the U+001F contract) drop from the count —
    * inner join, mirrored in the oracle. */
  def bpeEncodeCounts(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    bpeEncodeCountsOf(
      Tables.documents(s, dir).select("doc_id", "text")
        .repartition(widenWidth(s), md5(col("text"))),
      "text", nMerges = 30)
  }

  /** Corpus-generic form of [[bpeEncodeCounts]]. */
  def bpeEncodeCountsOf(docs: DataFrame, textCol: String, nMerges: Int,
      driverVocabCap: Long = 1000000L, cacheEvery: Int = 8): DataFrame = {
    val (_, seg, release) =
      bpeTrainFullOf(docs, textCol, nMerges, driverVocabCap, cacheEvery)
    // (word, token count) from the final segmentation: the word is the
    // wrapped string with separators stripped (exact inverse — words
    // containing the separator were excluded up front), the count is
    // its symbol-list length. One row per distinct word.
    val wordSyms = seg.select(
      call_function("replace", col("s"), lit(BpeSep), lit("")).as("w"),
      size(split(col("s").substr(lit(2), length(col("s")) - 2),
        BpeSep + BpeSep)).cast("long").as("n_syms"))
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"), explode(TextFunctions.tokens(col(textCol))).as("w"))
    val out = toks.join(broadcast(wordSyms), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_syms").as("n_tokens"))
      .orderBy("doc_id")
      .cache()
    out.count()
    release()
    out
  }

  /** Shared training core: word-frequency aggregate (the one
    * corpus-sized pass), then the merge loop on the chosen path —
    * returns the ordered merges, the FINAL segmentation as a
    * (freq, s) frame (wrapped-string representation), and a release
    * hook for its cache. */
  private def bpeTrainFullOf(docs: DataFrame, textCol: String, nMerges: Int,
      driverVocabCap: Long, cacheEvery: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame, () => Unit) = {
    val spark = docs.sparkSession
    val words = docs.filter(col(textCol).isNotNull)
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(!col("w").contains(BpeSep))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .cache()
    // one-job probe (the d13 pattern): the count picks the path AND
    // materializes the cache both paths consume
    val vocabSize = words.count()
    if (vocabSize <= driverVocabCap) {
      val (merges, seg) = bpeMergesDriver(
        words.collect().map(r => (r.getString(0), r.getLong(1))), nMerges)
      words.unpersist()
      import spark.implicits._
      (merges, seg.toSeq.toDF("s", "freq").select("freq", "s"), () => ())
    } else {
      val (merges, seg) = bpeMergesDistributed(words, nMerges, cacheEvery)
      words.unpersist()
      (merges, seg, () => { seg.unpersist(); () })
    }
  }

  /** UTF-8 byte order — what Spark's UTF8String and DuckDB's VARCHAR
    * comparisons both use; Java String.compareTo (UTF-16 code units)
    * differs for supplementary-plane text, so the driver path must
    * not use it for the winner tiebreak. */
  private def utf8Less(x: String, y: String): Boolean =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  private def bpeWrap(w: String): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      sb.append(BpeSep).appendCodePoint(cp).append(BpeSep)
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** Driver-local merge loop over the collected word table — exact
    * and single-pass-identical to the distributed twin (spec-pinned):
    * same wrapped-string representation, same leftmost-non-overlap
    * `String.replace`, same (n DESC, left, right) UTF-8 tiebreak. */
  private[operators] def bpeMergesDriver(words: Array[(String, Long)],
      nMerges: Int): (Seq[(Long, String, String, String, Long)], Array[(String, Long)]) = {
    val sep2 = BpeSep + BpeSep
    var seg = words.map { case (w, f) => (bpeWrap(w), f) }
    val out = scala.collection.mutable.ListBuffer.empty[(Long, String, String, String, Long)]
    for (k <- 1 to nMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      seg.foreach { case (s, f) =>
        val syms = s.substring(1, s.length - 1).split(sep2, -1)
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      require(counts.nonEmpty, s"BPE ran dry at merge $k: no adjacent pairs remain")
      var best: ((String, String), Long) = null
      counts.foreach { case (p, n) =>
        if (best == null || n > best._2 ||
          (n == best._2 && (utf8Less(p._1, best._1._1) ||
            (p._1 == best._1._1 && utf8Less(p._2, best._1._2))))) best = (p, n)
      }
      val ((a, b), n) = best
      out += ((k.toLong, a, b, a + b, n))
      val search = BpeSep + a + BpeSep + BpeSep + b + BpeSep
      val repl = BpeSep + a + b + BpeSep
      seg = seg.map { case (s, f) => (s.replace(search, repl), f) }
    }
    (out.toList, seg)
  }

  /** Distributed merge loop: per iteration one vocab-sized pair
    * aggregate, a ONE-ROW winner collect (model-sized driver traffic,
    * the IVF-centroid discipline), and a narrow `replace` map; the
    * segmentation re-caches every `cacheEvery` iterations so lineage
    * depth stays bounded. */
  private[operators] def bpeMergesDistributed(words: DataFrame, nMerges: Int,
      cacheEvery: Int): (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val sep2 = BpeSep + BpeSep
    var seg = words.select(col("freq"),
      regexp_replace(col("w"), "(?s)(.)", BpeSep + "$1" + BpeSep).as("s")).cache()
    seg.count()
    var lastCached = seg
    val out = scala.collection.mutable.ListBuffer.empty[(Long, String, String, String, Long)]
    for (k <- 1 to nMerges) {
      val win = seg
        .withColumn("cs", split(col("s").substr(lit(2), length(col("s")) - 2), sep2))
        .filter(size(col("cs")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("cs")) - 1),
          i => struct(element_at(col("cs"), i).as("a"),
            element_at(col("cs"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1).collect()
      require(win.nonEmpty, s"BPE ran dry at merge $k: no adjacent pairs remain")
      val (a, b, n) = (win(0).getString(0), win(0).getString(1), win(0).getLong(2))
      out += ((k.toLong, a, b, a + b, n))
      seg = seg.withColumn("s", call_function("replace", col("s"),
        lit(BpeSep + a + BpeSep + BpeSep + b + BpeSep), lit(BpeSep + a + b + BpeSep)))
      if (k % cacheEvery == 0 && k < nMerges) {
        val c = seg.cache()
        c.count()
        lastCached.unpersist()
        lastCached = c
      }
    }
    // hand the FINAL segmentation back cached (callers aggregate the
    // symbol table from it or release it immediately)
    val segFinal = seg.cache()
    segFinal.count()
    if (!(lastCached eq segFinal)) lastCached.unpersist()
    (out.toList, segFinal)
  }

  /** d31: TEMPERATURE-based mixture resampling — the multilingual
    * data-mix stage (mBERT/XLM-R style): per-language sampling
    * probability ∝ count^α with α = 0.5, so low-resource languages
    * are up-weighted relative to their raw share while the dominant
    * language is down-sampled; the target subcorpus is half the
    * corpus. Unlike d26's FIXED per-source weights, the cuts here are
    * DERIVED from the observed language distribution — the operator
    * the published pipelines actually run.
    *
    * Shape at scale: one tiny per-language count aggregate, a
    * handful-of-rows cut table computed on it and broadcast, then a
    * pure per-row keep decision (fingerprint mod 10000 vs the
    * language's cut) — no second corpus shuffle, deterministic under
    * re-ingest.
    *
    * Engine portability: α = 0.5 makes the power a `sqrt` — exactly
    * rounded under IEEE in every engine, unlike `pow`/`ln` — and the
    * per-language √counts are quantized to integer micro-units BEFORE
    * the normalizing sum, so the only cross-engine float ops are
    * exactly-rounded +,/,*,sqrt on identical inputs. */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    val s = kernelSession(spark, dir)
    val base = Tables.documents(s, dir)
      .filter(col("text").isNotNull && TextFunctions.tokenCount(col("text")) > 0)
      .repartition(widenWidth(s), md5(col("text")))
      .select(col("doc_id"), col("lang"),
        pmod(TextFunctions.fingerprintPortable64(col("text")), lit(10000L)).as("u"))
    val counts = base.groupBy("lang").agg(count(lit(1)).as("c"))
      .withColumn("sqc",
        floor(sqrt(col("c").cast("double")) * lit(1000000) + lit(0.5)).cast("long"))
    val tot = counts.agg(sum("sqc").as("s_total"), sum("c").as("n_total"))
    // keep fraction f_l = (sqc_l/S) * (N/2) / c_l, as a mod-10000 cut
    val cuts = counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("c"),
        least(lit(10000L), floor(
          (col("sqc").cast("double") / col("s_total").cast("double")
            * (col("n_total").cast("double") / lit(2.0))
            / col("c").cast("double")) * lit(10000) + lit(0.5)).cast("long")).as("cut"))
    base.join(broadcast(cuts.select("lang", "cut")), Seq("lang"))
      .filter(col("u") < col("cut"))
      .select(col("doc_id"), col("lang"), col("u"), col("cut"))
      .orderBy("doc_id")
  }

  /** d19: DETERMINISTIC stratified sampling — per language, the K
    * documents with the smallest (portable fingerprint, doc_id). The
    * fingerprint is a uniform-ish pseudo-random key derived from
    * content alone, so the draw is (a) unbiased w.r.t. corpus order,
    * (b) stable under re-ingest and engine changes (same property as
    * [[trainSplit]]), and (c) reproducible in the oracle.
    *
    * Scale shape: the selection is the bounded-heap
    * [[graft.plans.TopKPerKey]] node (ascending: smallest fp first) —
    * one clustered exchange, O(rows·log k) comparisons, memory
    * O(langs·k) per partition. A real corpus is majority one language,
    * so the naive `row_number() OVER (PARTITION BY lang)` alternative
    * would sort the dominant stratum's entire row set in a single
    * task; the heap streams it once and keeps k rows. The
    * rank-within-survivors window that follows runs over ≤ k rows per
    * language on the SAME keyed exchange (the
    * [[Similarity.rankTopK]] pattern). */
  def stratifiedSample(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && TextFunctions.tokenCount(col("text")) > 0)
      .select(col("doc_id"), col("lang"),
        TextFunctions.fingerprintPortable64(col("text")).as("fp"))
    val pruned = graft.plans.TopK.bottomKPerKey(
      base, Seq("lang"), "fp", k, tieBreakers = Seq("doc_id"))
    val w = Window.partitionBy("lang").orderBy(col("fp"), col("doc_id"))
    pruned
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy("lang", "sample_rank")
  }

  /** d41: SEMANTIC-CELL capped sampling — the SemDeDup-shaped
    * curation step: embeddings bucket into sign cells of the seeded
    * random projection (v13's integer-exact y_units, so the cell id
    * is GEOMETRY — cosine-close vectors share cells), and each cell
    * keeps at most `k` survivors by a portable uniform draw. Dense
    * semantic regions get capped; sparse regions survive whole —
    * rebalancing a redundant corpus toward coverage, which is what
    * the published embedding-dedup pipelines do between exact dedup
    * and quality filtering.
    *
    * Every ingredient is engine-portable: the projection signs derive
    * from the portable finalizer (no stored model), cell bits are
    * integer signs, and the draw is the md5-prefix hash of the id —
    * the oracle re-derives all of it from first principles.
    *
    * Scale shape: per-row projection kernel (zero shuffle), one
    * vec-keyed aggregate for the 6 coordinate rows, then d19's
    * bounded-heap [[graft.plans.TopK.bottomKPerKey]] prune BEFORE the
    * ranking window — a hot cell streams through a k-row heap, never
    * a full per-cell sort; the window runs over ≤ k·cells rows. */
  def semanticSample(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    val proj = Similarity.randomProjection(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      inDim = 64, outDim = 6)
    val cells = proj.groupBy(col("vec_id"))
      .agg(sum(when(col("y_units") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(dim_j AS INT))"))
        .otherwise(lit(0L))).as("cell"))
    val base = cells.withColumn("pri",
      conv(substring(md5(col("vec_id").cast("string")), 1, 12), 16, 10)
        .cast("long"))
    val pruned = graft.plans.TopK.bottomKPerKey(
      base, Seq("cell"), "pri", k, tieBreakers = Seq("vec_id"))
    val w = Window.partitionBy("cell").orderBy(col("pri"), col("vec_id"))
    pruned.withColumn("cell_rank", row_number().over(w).cast("long"))
      .filter(col("cell_rank") <= k)
      .select(col("vec_id"), col("cell"), col("cell_rank"))
      .orderBy("cell", "cell_rank")
  }

  /** d36: QUALITY-WEIGHTED sampling without replacement — the
    * Efraimidis–Spirakis scheme: each doc draws key u^(1/w) (u a
    * uniform derived from its portable content fingerprint, w its
    * quantized quality score) and the k largest keys per language
    * win, which selects with probability proportional to quality —
    * the "sample better data more" step between pure-random (d19)
    * and hard temperature cuts (d31). Ranking by ln(u)/w is
    * monotone-equivalent; quantized to integer micro-nats (the d33
    * technique: u is exactly representable — a 53-bit integer over
    * 2^53 — so both engines feed ln the identical double, and the
    * one libm call is floor-half-up quantized; residual cross-libm
    * exposure ~1e-10 per value, documented and accepted).
    *
    * Scale shape = d19's: selection through the bounded-heap
    * [[graft.plans.TopKPerKey]] (top-k by score DESC), rank window
    * over survivors only; everything upstream is per-row kernels. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && TextFunctions.tokenCount(col("text")) > 0)
      .select(col("doc_id"), col("lang"),
        graft.functions.Quantize.quantize4(
          TextFunctions.qualityScore(col("text"))).as("w"),
        TextFunctions.fingerprintPortable64(col("text")).as("fp"))
      .filter(col("w") > 0)
      .withColumn("u",
        (col("fp").bitwiseAND(lit(9007199254740991L)) + lit(1L)).cast("double")
          / 9007199254740992.0)
      .withColumn("score_units",
        floor(log(col("u")) / col("w") * 1e6 + lit(0.5)).cast("long"))
    val pruned = graft.plans.TopK.topKPerKey(
      base, Seq("lang"), "score_units", k, tieBreakers = Seq("doc_id"))
    val win = Window.partitionBy("lang").orderBy(col("score_units").desc, col("doc_id"))
    pruned.withColumn("sample_rank", row_number().over(win).cast("long"))
      .filter(col("sample_rank") <= k)
      .select(col("doc_id"), col("lang"), col("w"), col("sample_rank"))
      .orderBy("lang", "sample_rank")
  }

  /** d42: DSIR-shaped importance scoring — rank corpus documents by
    * how target-like their hashed-feature profile is (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling",
    * the hashed-n-gram variant with binary presence features). The
    * target here is the corpus' `targetLang` slice; the raw
    * distribution is the whole corpus. Per bucket b of the portable
    * token-hash space folded to `buckets` cells, the model carries
    *   units(b) = Q(ln (df_t+1)/(N_t+2)) − Q(ln (df_r+1)/(N_r+2))
    * with Q the established micro-nat quantization (d33/d36): each
    * log-prob is quantized to an integer BEFORE the difference, so
    * every engine sums identical integers and the per-doc score is
    * associative-exact under any execution order. A document's score
    * is the sum over its DISTINCT feature buckets; keep = score > 0
    * (more target-like than corpus-average).
    *
    * Scale shape: the model is ≤ `buckets` rows NO MATTER the corpus
    * size — built by one map-side-combined count over exploded
    * (doc, bucket) pairs, then broadcast back onto the same pair
    * stream; per-doc distinct-bucket dedup happens ARRAY-side
    * (array_distinct over the already-distinct sorted token hashes),
    * so the only exchanges are the two bounded aggregations. No
    * all-pairs anything; target/raw co-counted in one pass via a
    * boolean, not two scans. */
  def dsirImportance(spark: SparkSession, dir: String,
      buckets: Int = 4096, targetLang: String = "en"): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two (bucket = hash & (buckets-1)), got $buckets")
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && TextFunctions.tokenCount(col("text")) > 0)
      .select(col("doc_id"), (col("lang") === targetLang).as("is_target"),
        graft.functions.SketchExpressions
          .portableShingleHashes(col("text"), 1).as("hs"))
    val mask = lit((buckets - 1).toLong)
    val pairs = docs.select(col("doc_id"), col("is_target"),
      explode(array_distinct(transform(col("hs"), h => h.bitwiseAND(mask)))).as("b"))
    val nd = docs.agg(count(lit(1)).as("nr"),
      count(when(col("is_target"), 1)).as("nt"))
    val dfCounts = pairs.groupBy("b").agg(
      count(lit(1)).as("dfr"),
      count(when(col("is_target"), 1)).as("dft"))
    def q(num: Column, den: Column) =
      floor(log(num.cast("double") / den.cast("double")) * 1e6 + lit(0.5)).cast("long")
    val model = dfCounts.crossJoin(broadcast(nd))
      .select(col("b"),
        (q(col("dft") + 1, col("nt") + 2) - q(col("dfr") + 1, col("nr") + 2)).as("units"))
    pairs.join(broadcast(model), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_features"), sum(col("units")).as("score_units"))
      .select(col("doc_id"), col("n_features"), col("score_units"),
        (col("score_units") > 0).as("keep"))
      .orderBy("doc_id")
  }

  /** d17: sequence packing — explode each document into fixed-size
    * token windows (chunk size 32, stride = size: non-overlapping),
    * the pre-tokenizer chunking step of an LLM training pipeline.
    * One pass of array expressions per row; the explode multiplies
    * rows but never shuffles. */
  def tokenChunks(spark: SparkSession, dir: String, chunk: Int = 32): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("toks")) - 1) / chunk).cast("int")),
          i => array_join(slice(col("toks"), i * chunk + 1, lit(chunk)), " "))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk_text"),
        least(size(col("toks")) - col("pos") * chunk, lit(chunk)).cast("long").as("n_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** d18: benchmark decontamination — flag corpus documents sharing
    * any 5-word shingle with the "benchmark" set (here: doc_id < 10),
    * the overlap check run before training to keep eval data out of
    * the corpus. Shape at scale: the benchmark shingle set is tiny and
    * broadcast; the corpus side streams through one semi-join-style
    * probe — no corpus-vs-corpus pair space. */
  def decontamination(spark: SparkSession, dir: String, n: Int = 5,
      benchBelow: Long = 10L): DataFrame =
    decontaminationOf(
      // widen the single-row-group scan before the shingle explode —
      // the same pre-kernel repartition every other text row applies
      // (d43 already had it); without it the whole CPU-heavy shingle
      // pass ran as ONE task (measured: a 1.8 s single-task stage =
      // ~85% of the row)
      Tables.documents(spark, dir).select("doc_id", "text")
        .repartition(widenWidth(spark), md5(col("text"))), n, benchBelow)

  /** d43: decontamination by OVERLAP FRACTION — the published rule
    * (GPT-3/PaLM-style) flags a document when the FRACTION of its
    * distinct n-gram shingles shared with the benchmark crosses a
    * threshold, not on any single collision (d18's any-overlap count
    * is the audit view; incidental shared phrases in a web corpus
    * make it a terrible removal rule). Fractions are integer basis
    * points — (n_shared · 10⁴) div n_shingles, all non-negative, so
    * both engines floor identically. The gate corpus plants true
    * contamination (benchmark docs re-hosted with one appended
    * token, the near-dup planting pattern) so `contaminated` fires
    * for real and the threshold's both sides are exercised.
    * Scale shape is d18's: the benchmark shingle set broadcasts;
    * the corpus side is one explode + two map-side-combined counts —
    * no corpus-vs-corpus pair space. */
  def decontaminationFraction(spark: SparkSession, dir: String,
      n: Int = 5, benchBelow: Long = 10L, plantBelow: Long = 5L): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .filter(col("text").isNotNull)
    val planted = docs.filter(col("doc_id") < plantBelow)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" graftmark")).as("text"))
    decontaminationFractionOf(
      docs.unionByName(planted)
        .repartition(widenWidth(spark), md5(col("text"))), n, benchBelow)
  }

  /** Corpus-generic fraction form (see [[decontaminationFraction]]);
    * every non-benchmark doc reports, zero-overlap included. */
  def decontaminationFractionOf(docs: DataFrame, n: Int, benchBelow: Long,
      thresholdBp: Int = 5000): DataFrame = {
    val posting = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(TextFunctions.wordShingles(col("text"), n)).as("g"))
    val corpus = posting.filter(col("doc_id") >= benchBelow)
    val bench = posting.filter(col("doc_id") < benchBelow).select("g").distinct()
    val totals = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val shared = corpus.join(broadcast(bench), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    totals.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("overlap_bp", expr("(n_shared * 10000) div n_shingles"))
      .withColumn("contaminated", col("overlap_bp") >= thresholdBp)
      .orderBy("doc_id")
  }

  /** Corpus-generic form: `docs` carries (doc_id, text); ids below
    * `benchBelow` form the benchmark. Split out so tests drive the
    * REAL operator on constructed frames. */
  def decontaminationOf(docs: DataFrame, n: Int, benchBelow: Long): DataFrame = {
    val posting = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(TextFunctions.wordShingles(col("text"), n)).as("g"))
    val bench = posting.filter(col("doc_id") < benchBelow).select("g").distinct()
    posting.filter(col("doc_id") >= benchBelow)
      .join(broadcast(bench), Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------- text analysis

  /** Whitespace vs BPE-ish token counts side by side (the north-star
    * "token counting (whitespace + a BPE-ish regex)" mandate): the
    * BPE-ish pattern segments lowered text into letter runs, single
    * digits and single non-alphanumeric symbols — the pre-merge
    * word-split shape of byte-pair tokenizers. Pure codegen'd regex,
    * portable between Java regex and RE2. */
  def bpeTokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).cast("long").as("n_bpe_tokens"),
      TextFunctions.tokenCount(col("text")).as("n_ws_tokens"))
      .orderBy("doc_id")

  /** d15: per-(lang, source) MinHash signature via the custom
    * [[graft.functions.MinHashUnionAgg]] aggregate — the mergeable
    * corpus-sketch surface (map-side partial fold, only 8·numHashes
    * bytes per group cross the shuffle). Signature exploded to one
    * row per permutation so the result is scalar-typed and the DuckDB
    * oracle hash-compares the exact per-group minima. */
  def groupMinhash(spark: SparkSession, dir: String, numHashes: Int = 16): DataFrame = {
    val sh = graft.functions.SketchExpressions.portableShingleHashes(col("text"), 3)
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("lang"), col("source"), sh.as("sh"))
      .groupBy(col("lang"), col("source"))
      .agg(graft.functions.SketchExpressions.minhashUnion(col("sh"), numHashes).as("sig"))
      .select(col("lang"), col("source"), posexplode(col("sig")))
      .select(col("lang"), col("source"),
        col("pos").cast("long").as("perm_idx"), col("col").as("min_hash"))
      .orderBy("lang", "source", "perm_idx")
  }

  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      length(col("text")).cast("long").as("n_chars_text"))
      .orderBy("doc_id")

  /** g06: WEIGHTED PageRank on the co-order graph — the walk divides
    * each part's mass over its neighbors proportionally to SHARED
    * ORDER COUNT (the `w` the shared memoized edge list now carries),
    * so heavily co-purchased pairs dominate the ranking the way the
    * unweighted walk cannot express. 3 iterations, integer-exact,
    * oracle-unrolled like g01. */
  def weightedPageRankCoOrderFrom(edges: DataFrame, iters: Int = 3): DataFrame = {
    val dir = edges.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionByName(edges.select(col("v").as("src"), col("u").as("dst"), col("w")))
    Graph.pageRankWeightedIntExact(dir, iters)
      .select(col("node").as("part_id"), col("rank_units"))
      .orderBy("part_id")
  }

  /** d48: VOCABULARY COVERAGE — the tokenizer-engineering decision
    * query: the MINIMAL frequency-ranked vocabulary covering
    * `coverBp` basis points of corpus token mass, plus every
    * document's UNK rate under that vocabulary. This is how a vocab
    * size is actually chosen (and how OOV damage is audited per
    * document) before committing to a tokenizer build.
    *
    * Integer-exact by construction: the vocabulary is every token
    * whose PRECEDING cumulative mass (rank order = count desc, token
    * asc — a total order, so ties can't flip engines) is still short
    * of ceil(total·coverBp/10⁴), i.e. the prefix that first reaches
    * coverage; UNK rates are floor basis points. Scale shape: one
    * map-side token count, a RANGE-PARTITIONED two-pass prefix sum
    * over the distinct-token counts (partition-local cumsum +
    * broadcast per-partition offsets — the globalRankDeciles pattern;
    * a single global window here would push O(distinct tokens),
    * hundreds of millions of rows at corpus scale, through ONE task),
    * and one broadcast-able anti-join of the token stream against the
    * vocabulary. The staged parquet pins the range exchange's
    * partition ids: a re-evaluated range exchange may re-sample its
    * bounds, and the offset pass must see the pids the subtotal pass
    * counted. */
  def vocabCoverage(spark: SparkSession, dir: String, coverBp: Int = 9900): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val parts = spark.sessionState.conf.numShufflePartitions
    val tmp = graft.core.RunTemp.dir("graft_vocab_")
    counts.repartitionByRange(parts, col("c").desc, col("tok").asc)
      .withColumn("pid", spark_partition_id())
      .write.mode("overwrite").parquet(tmp)
    // explicit schema: an empty corpus writes no part files, and a
    // bare read would then fail schema inference
    val staged = spark.read.schema(counts.schema.add("pid", "int")).parquet(tmp)
    val sub = staged.groupBy("pid").agg(sum(col("c")).as("cnt"))
    // subtotal frame ≤ `parts` rows — the only unpartitioned window
    // runs over it, never over the token counts
    val wOff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val off = sub
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select("pid", "off")
    val total = sub.agg(sum(col("cnt")).as("t"))
    val wLocal = Window.partitionBy("pid").orderBy(col("c").desc, col("tok").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val vocab = staged.join(broadcast(off), Seq("pid"))
      .withColumn("cum", col("off") + sum(col("c")).over(wLocal))
      .crossJoin(broadcast(total))
      .filter((col("cum") - col("c")) * 10000 < col("t") * coverBp)
      .select("tok")
    val unk = toks.join(broadcast(vocab), Seq("tok"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_unk"))
    toks.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      .join(unk, Seq("doc_id"), "left")
      .withColumn("n_unk", coalesce(col("n_unk"), lit(0L)))
      .crossJoin(broadcast(vocab.agg(count(lit(1)).as("vocab_size"))))
      .select(col("doc_id"), col("n_tokens"), col("n_unk"),
        expr("n_unk * 10000 div n_tokens").as("unk_bp"), col("vocab_size"))
      .orderBy("doc_id")
  }

  /** Punctuation counts — the DuckDB-expressible slice of quality
    * scoring, oracle-checked. */
  def punctCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("long").as("n_punct"))
      .orderBy("doc_id")

  /** Full composite quality score (stopword/CJK components are not
    * reasonably SQL-portable → rows-only check + TextSpec). */
  def qualityScores(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** d44: GOPHER-STYLE RULE FILTER — the published rule-based document
    * quality gate (Rae et al. 2021, "Scaling Language Models: Methods,
    * Analysis & Insights from Training Gopher", appendix A — public
    * literature; the same family C4/RefinedWeb/Dolma use), distinct
    * from d04's continuous score: each document gets a BITMASK of
    * failed rules plus the keep verdict, so a pipeline can report WHY
    * mass was dropped per rule, not just how much. Rules, all
    * INTEGER-EXACT (count·k ≤ count·m forms — no ratio ever touches a
    * float, so both engines agree bit-for-bit):
    *   bit 0 — word count outside [50, 100000]
    *   bit 1 — mean word length outside [3, 10]
    *   bit 2 — symbol-to-word ratio (# and …) > 1/10
    *   bit 3 — > 1/10 of lines start with a bullet (- or *)
    *   bit 4 — > 3/10 of lines end with an ellipsis
    *   bit 5 — < 4/5 of words contain an alphabetic character
    *   bit 6 — fewer than 2 stopword hits
    * On this fixture (single-line, symbol-free synthetic text) bits
    * 2–5 never fire and the corpus splits on word count and stopwords;
    * the constructed-string spec exercises every bit.
    *
    * Scale shape: embarrassingly parallel — one projection over the
    * scan, no shuffle at all before the gate's ORDER BY; counts fold
    * inside the same codegen stage as the tokenizer. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOn(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The rule kernel over any (doc_id, text) frame — see
    * [[gopherRules]] for the rule list and exactness contract. */
  def gopherRulesOn(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
        TextFunctions.tokens(col("text")).as("toks"),
        split(col("text"), "\n").as("lines"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))").as("sum_len"),
        (length(col("text")) - length(translate(col("text"), "#", ""))).cast("long")
          .+(expr("(length(text) - length(replace(text, '...'))) div 3"))
          .as("n_symbols"),
        expr("size(filter(toks, x -> x rlike '[a-z]'))").cast("long").as("n_alpha"),
        expr("size(filter(toks, x -> array_contains(" +
          "array('the','be','to','of','and','that','have','with','a','in'), x)))")
          .cast("long").as("n_stop"),
        size(col("lines")).cast("long").as("n_lines"),
        expr("size(filter(lines, l -> trim(l) LIKE '-%' OR trim(l) LIKE '*%'))")
          .cast("long").as("n_bullet"),
        expr("size(filter(lines, l -> l LIKE '%...'))").cast("long").as("n_ell"))
      .select(col("doc_id"), col("n_words"),
        (when(col("n_words").between(50L, 100000L), 0L).otherwise(1L)
          + when(lit(3L) * col("n_words") <= col("sum_len") &&
              col("sum_len") <= lit(10L) * col("n_words"), 0L).otherwise(2L)
          + when(lit(10L) * col("n_symbols") <= col("n_words"), 0L).otherwise(4L)
          + when(lit(10L) * col("n_bullet") <= col("n_lines"), 0L).otherwise(8L)
          + when(lit(10L) * col("n_ell") <= lit(3L) * col("n_lines"), 0L).otherwise(16L)
          + when(lit(5L) * col("n_alpha") >= lit(4L) * col("n_words"), 0L).otherwise(32L)
          + when(col("n_stop") >= 2L, 0L).otherwise(64L)).as("fail_mask"))
      .select(col("doc_id"), col("n_words"), col("fail_mask"),
        (col("fail_mask") === 0L).as("keep"))

  /** Language ID vs the fixture's labeled lang column; accuracy is
    * asserted ≥0.9 in TextSpec. */
  def langIdPredictions(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"),
      TextFunctions.langId(col("text")).as("lang_pred"))
      .withColumn("correct", (col("lang") === col("lang_pred")).cast("long"))
      .orderBy("doc_id")

  /** Rolling-hash fingerprints with the PORTABLE chain — every step
    * reproducible in SQL, so the 64-bit values are hash-compared
    * against a from-scratch oracle recomputation (the xxhash64 chain
    * variant remains available as TextFunctions.fingerprint64). */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.fingerprintPortable64(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** md5-of-token-stream fingerprint — same semantics, DuckDB-oracled
    * (the xxhash64 chain above is Spark-specific, rows-only check). */
  def fingerprintsMd5(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.fingerprintMd5(col("text")).as("fingerprint_md5"))
      .orderBy("doc_id")

  // -------------------------------------------------------- similarity

  def knnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 5,
      queries = Some(emb.filter(col("vec_id") < 50)))
      .orderBy("query_id", "rank")
  }

  /** Overall recall@k certificate: emits the brute-force TRUTH top-k
    * rows (DuckDB-recomputable exactly — the same cross-join oracle
    * shape as v01/v07) plus ONE constant boolean column asserting the
    * approximate operator's overall recall@k against that truth is at
    * least `minRecall`. Every output column is then deterministic on
    * both engines, so the driver hash-compares the whole result — the
    * construction that turns an approximate operator's "green by spec
    * argument" into "green by driver gate". The recall is computed
    * distributively: a semi-join on (query_id, nbr_id) counts hits,
    * one 1-row aggregate is broadcast back onto the truth rows;
    * nothing row-level ever reaches the driver. */
  private def certifyRecall(truthDf: DataFrame, approxDf: DataFrame,
      minRecall: Double, okCol: String): DataFrame = {
    val scope = new graft.core.CacheScope
    val truth = scope.pin(truthDf)
    val hits = truth.select("query_id", "nbr_id")
      .join(approxDf.select("query_id", "nbr_id"),
        Seq("query_id", "nbr_id"), "left_semi")
      .agg(count(lit(1)).cast("double").as("n_hits"))
    val total = truth.agg(count(lit(1)).cast("double").as("n_truth"))
    val cert = hits.crossJoin(total)
      .select((col("n_hits") / col("n_truth") >= minRecall).as(okCol))
    scope.sealResult(truth.crossJoin(broadcast(cert)))
      .orderBy("query_id", "rank")
  }

  /** v19: EXACT maximum-inner-product top-k (the recommender /
    * unnormalized-embedding scoring rule — no norm divide) for the
    * first 50 vectors against the corpus. Fully DuckDB-recomputable:
    * positional list_dot_product, 1e-4 quantization, deterministic
    * (dot DESC, nbr_id) order. */
  def mipsExact(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    Similarity.mipsTopK(emb, "vec_id", "embedding", k = 5,
      queries = emb.filter(col("vec_id") < 50))
      .orderBy("query_id", "rank")
  }

  /** v20: the MIPS-to-cosine order-preserving augmentation driving
    * the asymmetric sign-LSH index, certified — output is v19's exact
    * truth plus `mips_recall_ok`, the distributed recall@5 ≥ 0.6
    * certificate over the full query set (the v02 construction). The
    * augmentation, asymmetric bucketing, hot-bucket guard, and
    * exact-rescore pipeline all run for real; the certificate is only
    * green when candidate recall actually clears the bar. */
  def mipsAnnCertified(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val queries = emb.filter(col("vec_id") < 50)
    certifyRecall(
      Similarity.mipsTopK(emb, "vec_id", "embedding", k = 5, queries = queries),
      Similarity.mipsAnnTopK(emb, "vec_id", "embedding", k = 5, queries = queries),
      minRecall = 0.6, okCol = "mips_recall_ok")
  }

  /** BENCH-ONLY twin of v20: the augmented-LSH MIPS path alone,
    * without the certificate's brute-force truth side — see
    * [[annTopKProduction]]'s rationale. */
  def mipsAnnProduction(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    Similarity.mipsAnnTopK(emb, "vec_id", "embedding", k = 5,
      queries = emb.filter(col("vec_id") < 50))
  }

  /** v02: the production sign-LSH ANN configuration, certified — the
    * output is the brute-force truth top-k plus `ann_recall_ok`, the
    * distributed recall@5 ≥ 0.6 certificate over the FULL query set
    * (see [[certifyRecall]]). The ANN machinery (occupancy-sized
    * planes, 10 tables, bucket join, bounded-heap ranking) runs for
    * real — the certificate is only green when its recall actually
    * clears the bar; v07 separately pins the same code path driven to
    * exhaustiveness against ground truth, hash-exactly. */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    // widen the single-row-group scan before the per-vector LSH
    // kernels (see withPlantedNearDups)
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    certifyRecall(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 5),
      Similarity.annTopK(emb, "vec_id", "embedding", k = 5, tables = 10),
      minRecall = 0.6, okCol = "ann_recall_ok")
  }

  /** BENCH-ONLY twin of v02: the production sign-LSH ANN path alone.
    * The certified registry entry ([[annTopK]]) also executes the
    * brute-force truth side and the recall join — timing it times the
    * GATE, not the operator, and over-states the ANN's cost ~2.5×.
    * This is the query a user actually runs; Bench reports it as its
    * own row so BENCH reflects production latency. NOT in
    * `SparkEntry.queries`: it has no oracle (that's what the
    * certified twin is for). */
  def annTopKProduction(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    Similarity.annTopK(emb, "vec_id", "embedding", k = 5, tables = 10)
  }

  /** BENCH-ONLY twin of v04: the production IVF (nCells=10, nProbe=4)
    * search alone, without the certificate's truth side — see
    * [[annTopKProduction]]. */
  def ivfTopKProduction(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    IvfIndex.topK(spark, emb, "vec_id", "embedding", k = 5, nCells = 10, nProbe = 4)
  }

  /** embeddings ∪ slightly-perturbed copies of the first `n` vectors,
    * ids offset by 100000 — the fixture's own max pairwise cosine is
    * ~0.51, so planted ~0.97-cosine pairs are what a near-dup operator
    * must find. The per-dimension noise is plain integer arithmetic
    * (`(vec_id·2654435761 + i·40503) mod 2001`, scaled to ±0.05) —
    * NOT a Spark-specific hash — so the DuckDB oracle reconstructs the
    * identical planted corpus in SQL and v03 is hash-compared, not
    * rows-only. Float adds are IEEE-identical across engines. */
  private[operators] def withPlantedNearDupVectors(spark: SparkSession, dir: String, n: Int = 40): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // The noise is keyed on the PLANTED id, via a pre-computed column
    // (not a same-select alias: lateral-alias resolution would make
    // the reference ambiguous between input and output vec_id).
    val noisy = emb.filter(col("vec_id") < n)
      .withColumn("pid", col("vec_id") + 100000L)
      .select(
        col("pid").as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + ((pmod(col("pid") * lit(2654435761L) + i.cast("long") * lit(40503L), lit(2001L)) - 1000L) / 20000.0d).cast("float"))
          .as("embedding"))
    // single-row-group fixture file ⇒ widen before the per-vector
    // LSH/norm kernels (see withPlantedNearDups)
    emb.unionByName(noisy).repartition(widenWidth(spark), col("vec_id"))
  }

  /** v04: the production IVF configuration (nProbe=4 of 10 cells),
    * certified the same way as v02 — truth rows + `ivf_recall_ok`
    * recall@5 ≥ 0.6 certificate; v06/v08 pin the exact-probe path.
    * nProbe=4 measured 0.69–0.73 recall on sf0.001/0.01/0.1 (probe=3
    * sat at 0.58–0.63, inside noise of the bar — no certification
    * margin). */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    certifyRecall(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 5),
      IvfIndex.topK(spark, emb, "vec_id", "embedding", k = 5, nCells = 10, nProbe = 4),
      minRecall = 0.6, okCol = "ivf_recall_ok")
  }

  /** v21: radius search over the planted corpus — all neighbors with
    * cosine ≥ 0.30 of the first 50 vectors (p99 of the fixture's
    * random-pair cosine is ~0.29, so the radius cuts a sparse
    * non-trivial set, plus the planted ~0.999 copies). Exact by
    * construction — the broadcast scan is the production plan at this
    * regime, see [[Similarity.rangeSearch]] — so the oracle recomputes
    * the full set, no certificate needed. */
  def rangeSearchQuery(spark: SparkSession, dir: String): DataFrame = {
    val corpus = withPlantedNearDupVectors(kernelSession(spark, dir, "embeddings"), dir)
    Similarity.rangeSearch(corpus, "vec_id", "embedding", minCosine = 0.30,
      queries = corpus.filter(col("vec_id") < 50))
      .orderBy("query_id", "nbr_id")
  }

  /** v15: IVF-PQ — cell-residual product quantization, the missing
    * standard component of a trillion-vector ANN stack (codes, not
    * vectors, in the index: 8 bytes/vector at the 8×16 default vs 256
    * raw — see [[IvfIndex.buildPq]]). Certified the v02/v04 way:
    * output is the brute-force cosine truth top-k plus
    * `ivfpq_recall_ok`, the distributed recall@5 certificate over the
    * full query set. Vectors are unit-normalized BEFORE indexing so
    * ADC's L2-over-residuals ranking is exactly cosine ranking
    * (‖a−b‖² = 2 − 2·cos on unit vectors); cosine truth is
    * normalization-invariant, so the raw-corpus truth side matches.
    * Geometry: m=32 two-dim subspaces × 256 codes (32 B/vector, 8×
    * compression at dim 64; the ratio grows with dim). The fixture
    * vectors are near-RANDOM (max pairwise cosine ~0.51), the
    * documented worst case for PQ — neighbor margins are tiny, so
    * quantization distortion costs recall that structured real
    * embeddings would keep: measured sweep m=8/ks=16 0.24, 8/256
    * 0.51, 16/256 0.65, 32/256 0.73 at (sf0.01, nProbe=4). Certified
    * configuration (nCells=10, nProbe=5, m=32, ks=256): recall@5
    * 0.80/0.77/0.73 at sf0.001/0.01/0.1 — ≥ 0.13 margin over the 0.6
    * bar, the v04 margin discipline. */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val unit = unitVecs(emb)
    certifyRecall(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 5),
      IvfIndex.pqTopK(spark, unit, "vec_id", "embedding", k = 5,
        nCells = 10, m = 32, ks = 256, nProbe = 5),
      minRecall = 0.6, okCol = "ivfpq_recall_ok")
  }

  /** v16: the PQ index SAVED then LOADED then searched — the
    * deployment shape (build once, query many times from codes on
    * disk; [[IvfIndex.savePq]]/[[IvfIndex.loadPq]]). Certified like
    * v15: brute-force truth + recall@5 ≥ 0.6 over the loaded
    * artifact's ADC search; the spec additionally pins
    * search(load(save(build))) byte-equal to the in-memory search,
    * so the gate certifies persistence end-to-end, not a second
    * search path. */
  def ivfPqSavedTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val unit = unitVecs(emb)
    val (encoded, model) = IvfIndex.buildPq(spark, unit,
      "vec_id", "embedding", nCells = 10, m = 32, ks = 256)
    // deployment-artifact dir: loaded frames read it lazily well
    // after this query returns (the v08 RunTemp keep rationale)
    val idxDir = graft.core.RunTemp.dir("graft_ivfpq_index_", keep = 32)
    IvfIndex.savePq(encoded, model, idxDir)
    encoded.unpersist()
    val (loaded, loadedModel) = IvfIndex.loadPq(spark, idxDir)
    // 50-query external frame — the v08/v11 saved-index gate shape;
    // the full-query-set recall bar is v15's job
    certifyRecall(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 5,
        queries = Some(emb.filter(col("vec_id") < 50))),
      IvfIndex.searchPq(loaded, loadedModel, k = 5, nProbe = 5,
        unit.filter(col("vec_id") < 50), "vec_id", "embedding"),
      minRecall = 0.6, okCol = "ivfpq_saved_recall_ok")
  }

  /** Unit-normalize the embedding column (the v15 preparation: on
    * unit vectors ADC's L2-over-residuals ranking IS cosine ranking).
    * Shared by every PQ gate. */
  private def unitVecs(emb: DataFrame): DataFrame = emb
    .withColumn("nrm", Similarity.l2Norm(col("embedding")))
    .select(col("vec_id"),
      when(col("nrm") > 0,
        transform(col("embedding"), x => (x / col("nrm")).cast("float")))
        .otherwise(col("embedding")).as("embedding"))

  /** Distributed EXACT set-equality certificate between a maintained
    * PQ artifact and a one-shot re-encode of the expected corpus
    * under the SAME frozen model: symmetric `exceptAll` (multiset
    * difference — a duplicated row breaks it even when its twin
    * survives) must be empty, code arrays compared element-exact.
    * This is STRONGER than a recall certificate: it pins the
    * maintenance path row-for-row, code-for-code to what a rebuild
    * with the frozen model would store. */
  private def pqEquivCert(expected: DataFrame, got: DataFrame,
      okCol: String): DataFrame = {
    // compare the FULL saved schema, not just (id, cell, codes): if
    // the artifact carries filtered-search attribute columns, a
    // maintenance op that corrupts or drops attr values must flip the
    // certificate too. Column order follows the loaded artifact; a
    // column the re-encode lacks fails loudly at analysis.
    val cols = got.columns.toSeq
    val e = expected.select(cols.map(col): _*)
    val g = got.select(cols.map(col): _*)
    e.exceptAll(g).union(g.exceptAll(e))
      .agg(count(lit(1)).as("n_diff"))
      .select((col("n_diff") === 0).as(okCol))
  }

  /** v22: the PQ index GROWTH path certified — build + savePq on the
    * base corpus, [[IvfIndex.appendPq]] the increment (encoded against
    * the FROZEN saved model: centroids AND residual codebooks), load,
    * and certify twice. (1) `pq_append_equiv_ok`: the appended
    * artifact EXACTLY equals a one-shot [[IvfIndex.encodePq]] of the
    * full corpus under the same model — multiset-exact, so a lost,
    * duplicated, or differently-coded appended row flips the
    * certificate (this is the "append ≡ rebuild-with-same-model"
    * claim as an executable equality, not a recall hope). (2) the v16
    * recall@5 ≥ 0.6 bar over the appended artifact's ADC search at
    * full probe width, against brute-force truth — the artifact must
    * still SEARCH like a PQ index, not merely diff-match. At 100 TB
    * this is what makes PQ-corpus growth O(batch): one encode scan of
    * the increment, new files only under touched `cell=` dirs (the
    * untouched-cells-byte-identical property is spec-pinned in
    * SimilaritySpec). */
  def ivfPqAppendTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val unit = unitVecs(emb)
    val base = unit.filter(col("vec_id") >= 50)
    val increment = unit.filter(col("vec_id") < 50)
    val (encoded, model) = IvfIndex.buildPq(spark, base,
      "vec_id", "embedding", nCells = 10, m = 32, ks = 256)
    val idxDir = graft.core.RunTemp.dir("graft_ivfpq_append_", keep = 32)
    IvfIndex.savePq(encoded, model, idxDir)
    encoded.unpersist()
    IvfIndex.appendPq(spark, idxDir, increment, "vec_id", "embedding")
    val (loaded, loadedModel) = IvfIndex.loadPq(spark, idxDir)
    val equiv = pqEquivCert(
      IvfIndex.encodePq(unit, "vec_id", "embedding", loadedModel),
      loaded, "pq_append_equiv_ok")
    certifyRecall(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 5,
        queries = Some(emb.filter(col("vec_id") < 50))),
      IvfIndex.searchPq(loaded, loadedModel, k = 5, nProbe = 10,
        unit.filter(col("vec_id") < 50), "vec_id", "embedding"),
      minRecall = 0.6, okCol = "pq_append_recall_ok")
      .crossJoin(broadcast(equiv))
      .orderBy("query_id", "rank")
  }

  /** v23: the full PQ MAINTENANCE LIFECYCLE certified — build + savePq
    * on the base, TWO [[IvfIndex.appendPq]]s (genuine fragmentation:
    * each lands new files in its touched cells), [[IvfIndex.deletePq]]
    * of an id range (the licensing-removal shape), then
    * [[IvfIndex.compactPq]] at the tightest threshold, load, certify.
    * `pq_lifecycle_equiv_ok` pins the surviving artifact multiset-
    * exactly to a one-shot encode of (corpus MINUS deleted) under the
    * frozen model — a deleted row surviving any stage (stale file,
    * missed cell, partial rewrite), a survivor lost by the compaction
    * rewrite, or a code mutated anywhere flips it. The recall bar then
    * certifies the compacted artifact still searches: truth is
    * brute-force over the SURVIVING corpus (the v12 oracle shape).
    * O(touched-files) properties for each stage are spec-pinned in
    * SimilaritySpec. */
  def ivfPqLifecycleTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val unit = unitVecs(emb)
    val base = unit.filter(col("vec_id") >= 100)
    val (encoded, model) = IvfIndex.buildPq(spark, base,
      "vec_id", "embedding", nCells = 10, m = 32, ks = 256)
    val idxDir = graft.core.RunTemp.dir("graft_ivfpq_lifec_", keep = 32)
    IvfIndex.savePq(encoded, model, idxDir)
    encoded.unpersist()
    IvfIndex.appendPq(spark, idxDir,
      unit.filter(col("vec_id") < 50), "vec_id", "embedding")
    IvfIndex.appendPq(spark, idxDir,
      unit.filter(col("vec_id") >= 50 && col("vec_id") < 100),
      "vec_id", "embedding")
    IvfIndex.deletePq(spark, idxDir,
      emb.filter(col("vec_id") >= 50 && col("vec_id") < 100), "vec_id")
    IvfIndex.compactPq(spark, idxDir, maxFilesPerCell = 1)
    val (loaded, loadedModel) = IvfIndex.loadPq(spark, idxDir)
    val survivors = unit.filter(col("vec_id") < 50 || col("vec_id") >= 100)
    val equiv = pqEquivCert(
      IvfIndex.encodePq(survivors, "vec_id", "embedding", loadedModel),
      loaded, "pq_lifecycle_equiv_ok")
    certifyRecall(
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 50 || col("vec_id") >= 100),
        "vec_id", "embedding", k = 5,
        queries = Some(emb.filter(col("vec_id") < 50))),
      IvfIndex.searchPq(loaded, loadedModel, k = 5, nProbe = 10,
        unit.filter(col("vec_id") < 50), "vec_id", "embedding"),
      minRecall = 0.6, okCol = "pq_lifecycle_recall_ok")
      .crossJoin(broadcast(equiv))
      .orderBy("query_id", "rank")
  }

  /** v24: the PQ DRIFT CONTROL LOOP executable — the maintenance
    * contract [[IvfIndex.appendPq]]'s doc promises, driven end to end:
    * build + save on the base corpus, verify the monitor passes
    * ([[IvfIndex.pqRecallMonitor]] ≥ budget, no rebuild flag), append
    * a genuinely distribution-SHIFTED batch (10% of the corpus
    * clustered tightly in a region the frozen model never saw: large
    * bias on axis 0, renormalized — margins shrink to spread/bias
    * while residuals land far from every codebook entry), verify the
    * monitor FLAGS it (recall under budget ⇒ rebuild recommended),
    * rebuild with capacity scaled to the grown corpus (nCells 10→20,
    * m 32→64 — the operator's production response to a harder
    * distribution), and verify the monitor clears again.
    *
    * Measured recall at (sf0.001, sf0.01, sf0.1), budget 0.6:
    * before 0.944/0.944/0.836, shifted 0.308/0.540/0.336, rebuilt
    * 0.980/0.984/0.960 — every decision the gate pins has ≥ 0.06
    * margin, most ≥ 0.26, and the whole path is seed-fixed
    * deterministic. Output is one row of deterministic counts +
    * booleans (the v02 oracle-literal pattern). */
  def ivfPqDriftMonitor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 0.6; val k = 5
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val unit = unitVecs(emb).cache()
    val base = unit.filter(col("vec_id") >= 50)
    val (encoded, model) = IvfIndex.buildPq(spark, base,
      "vec_id", "embedding", nCells = 10, m = 32, ks = 256)
    val idxDir = graft.core.RunTemp.dir("graft_ivfpq_drift_", keep = 32)
    IvfIndex.savePq(encoded, model, idxDir)
    encoded.unpersist()
    // pre-drift: the monitor passes on a held-out base sample
    val baseQueries = unit.filter(col("vec_id") >= 50 && col("vec_id") < 100)
    val before = IvfIndex.pqRecallMonitor(spark, idxDir, baseQueries,
      Similarity.bruteForceTopK(base, "vec_id", "embedding", k,
        queries = Some(baseQueries)),
      k, nProbe = 10, minRecall = budget, "vec_id", "embedding")
    // the shifted batch: 10% of the corpus, re-keyed above it
    val nBatch = math.max(50L, unit.count() / 10L)
    val shifted = unit.filter(col("vec_id") < nBatch)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(10.0f)).otherwise(x).cast("float"))
          .as("embedding"))
      .withColumn("nrm", Similarity.l2Norm(col("embedding")))
      .select(col("vec_id"),
        transform(col("embedding"), x => (x / col("nrm")).cast("float"))
          .as("embedding"))
      .cache()
    IvfIndex.appendPq(spark, idxDir, shifted, "vec_id", "embedding")
    val full = base.unionByName(shifted)
    val queries = shifted.filter(col("vec_id") < 1000050)
    val truth = Similarity.bruteForceTopK(full, "vec_id", "embedding", k,
      queries = Some(queries)).cache()
    truth.count()
    val drifted = IvfIndex.pqRecallMonitor(spark, idxDir, queries,
      truth, k, nProbe = 10, minRecall = budget, "vec_id", "embedding")
    // rebuild: refit on the grown corpus with scaled capacity
    val (enc2, model2) = IvfIndex.buildPq(spark, full,
      "vec_id", "embedding", nCells = 20, m = 64, ks = 256)
    val idxDir2 = graft.core.RunTemp.dir("graft_ivfpq_drift2_", keep = 32)
    IvfIndex.savePq(enc2, model2, idxDir2)
    enc2.unpersist()
    val rebuilt = IvfIndex.pqRecallMonitor(spark, idxDir2, queries,
      truth, k, nProbe = 20, minRecall = budget, "vec_id", "embedding")
    truth.unpersist(); shifted.unpersist(); unit.unpersist()
    Seq((before.truthRows,
      before.recall >= budget && !before.rebuildRecommended,
      drifted.recall < before.recall && drifted.rebuildRecommended,
      rebuilt.recall >= budget && !rebuilt.rebuildRecommended))
      .toDF("truth_rows", "monitor_before_ok", "drift_flagged_ok",
        "rebuild_restored_ok")
  }

  /** v18: PQ search + EXACT RERANK — the full production retrieval
    * stack (codes answer "which ~50 could be close", raw vectors are
    * point-looked-up for just those candidates and re-scored
    * exactly). Certified at a HIGHER bar than raw ADC (v15's 0.6):
    * reranking recovers ADC's RANKING errors — probe misses it
    * cannot fix, which is why the budget is nProbe = 7 (the v17
    * lesson). Measured recall@5 across sf0.001/0.01/0.1 at
    * depth 50 / nProbe 7: rerank 0.914/0.912/0.904 vs raw ADC
    * 0.880/0.878/0.817 — the bar sits at 0.75 with ≥ 0.15 margin,
    * and the rerank-beats-ADC property is what the higher bar
    * certifies (raw ADC at sf0.1 would sit inside noise of it). */
  def ivfPqRerankTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val unit = unitVecs(emb)
    val (encoded, model) = IvfIndex.buildPq(spark, unit,
      "vec_id", "embedding", nCells = 10, m = 32, ks = 256)
    val out = certifyRecall(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 5),
      IvfIndex.searchPqRerank(encoded, model, unit, k = 5, depth = 50,
        nProbe = 7, queries = unit, idCol = "vec_id", vecCol = "embedding"),
      minRecall = 0.75, okCol = "rerank_recall_ok")
    encoded.unpersist()
    out
  }

  /** BENCH-ONLY twin of v18 — build + ADC + rerank without the truth
    * side. */
  def ivfPqRerankProduction(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val unit = unitVecs(emb)
    val (encoded, model) = IvfIndex.buildPq(spark, unit,
      "vec_id", "embedding", nCells = 10, m = 32, ks = 256)
    val out = IvfIndex.searchPqRerank(encoded, model, unit, k = 5, depth = 50,
      nProbe = 7, queries = unit, idCol = "vec_id", vecCol = "embedding").cache()
    out.count()
    encoded.unpersist()
    out
  }

  /** BENCH-ONLY twin of v15: the PQ build + ADC search alone, without
    * the certificate's truth side — see [[annTopKProduction]]. */
  def ivfPqTopKProduction(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val unit = unitVecs(emb)
    IvfIndex.pqTopK(spark, unit, "vec_id", "embedding", k = 5,
      nCells = 10, m = 32, ks = 256, nProbe = 5)
  }

  /** v06: the IVF index driven to EXACTNESS — nProbe = nCells probes
    * every cell, so the search must return exactly the brute-force
    * top-k (same oracle as v01). This pins the whole index path
    * (k-means build, cell assignment, probe selection, candidate
    * join, scoring, ranking) to a hash-compared ground truth; the
    * approximate configurations (v04) then differ from it only by the
    * probe budget. External query frame: the first 50 vectors. */
  def ivfExactTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    IvfIndex.topK(spark, emb, "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 8,
      queries = Some(emb.filter(col("vec_id") < 50)))
      .orderBy("query_id", "rank")
  }

  /** Filtered brute-force truth: exact top-k where each query's
    * candidate scope is rows sharing its `label` — the metadata-scoped
    * search (tenant / category / language) every production vector
    * store serves. Unlike the unfiltered truth this is an EQUI-join on
    * the label, not a cross join: the filter is part of the join key
    * on the truth side exactly as it is in the index path. Same
    * output shape + quantization as [[Similarity.bruteForceTopK]], so
    * the v01-family DuckDB oracle (with the label equality added)
    * reproduces it hash-exactly. */
  private def filteredKnnTruth(emb: DataFrame): DataFrame = {
    val corpus = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_vec"), col("label"))
      .withColumn("nbr_norm", Similarity.l2Norm(col("nbr_vec")))
    val q = emb.filter(col("vec_id") < 50 && col("embedding").isNotNull)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"), col("label"))
      .withColumn("query_norm", Similarity.l2Norm(col("query_vec")))
    val scored = q.join(corpus, Seq("label"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("cosine", Similarity.cosineWithNorms(
        Similarity.dot(col("query_vec"), col("nbr_vec")),
        col("query_norm"), col("nbr_norm")))
      .select(col("query_id"), col("nbr_id"), col("cosine"))
    Similarity.rankTopK(scored, "query_id", "cosine", "nbr_id", 5)
      .select(col("query_id"), col("nbr_id"),
        graft.functions.Quantize.quantize4(col("cosine")).as("cosine"),
        col("rank").cast("long").as("rank"))
  }

  /** The v17 index path: IVF built WITH the label carried as an index
    * attribute ([[IvfIndex.build]] attrCols), searched with the label
    * in the candidate join key ([[IvfIndex.search]] attrCols) — the
    * filter is enforced at the cell scan, never post-ranking, so a
    * scoped query can never return out-of-scope rows or silently
    * fewer than k in-scope ones. nProbe = 7 of 10: the label thins
    * in-scope candidate density per cell ~10×, so the probe budget
    * rises vs v04's unfiltered 4. Measured recall@5 sweep
    * (sf0.001/0.01/0.1): nProbe=4 0.62/0.61/0.62, 5 0.73/0.72/0.74,
    * 6 0.83/0.78/0.79, 7 0.90/0.85/0.87, 8 0.94/0.90/0.93 — 7 gives
    * ≥ 0.25 margin over the 0.6 bar at every SF (the v04 margin
    * discipline; 4, the unfiltered budget, sits inside noise of the
    * bar, which is exactly the "filtered search needs a bigger probe
    * budget" production lesson). */
  private def filteredIvfSearch(spark: SparkSession, emb: DataFrame,
      nProbe: Int): DataFrame = {
    val (assigned, centroids) = IvfIndex.build(spark, emb,
      "vec_id", "embedding", nCells = 10, attrCols = Seq("label"))
    val out = IvfIndex.search(assigned, centroids, k = 5, nProbe = nProbe,
      queries = Some(emb.filter(col("vec_id") < 50)),
      idCol = "vec_id", vecCol = "embedding", attrCols = Seq("label")).cache()
    out.count()
    assigned.unpersist()
    out
  }

  /** v17: FILTERED ANN, certified — metadata-scoped vector search
    * (every query retrieves only within its own `label`), the
    * production shape of multi-tenant / category-scoped retrieval.
    * Output is the filtered brute-force truth top-5 (DuckDB-exact:
    * the v01 oracle with the label equality in the join) plus
    * `filtered_recall_ok`, the distributed recall@5 ≥ 0.6 certificate
    * over the 50-query set ([[certifyRecall]]). The index path
    * enforces the label INSIDE the candidate join (see
    * [[filteredIvfSearch]]); a post-filter over an unfiltered search
    * would be both slower (scores out-of-scope rows) and wrong
    * (returns < k in-scope rows when scope survivors fall outside the
    * unfiltered top-k). */
  def filteredAnnTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    certifyRecall(
      filteredKnnTruth(emb),
      filteredIvfSearch(spark, emb, nProbe = 7),
      minRecall = 0.6, okCol = "filtered_recall_ok")
  }

  /** BENCH-ONLY twin of v17: the filtered IVF build + search alone,
    * without the certificate's truth side — see
    * [[annTopKProduction]]. */
  def filteredAnnProduction(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    filteredIvfSearch(spark, emb, nProbe = 7)
  }

  /** v07: the sign-LSH ANN driven to EXHAUSTIVENESS — `planes = -1`
    * puts every vector in one bucket of a single table, so the
    * candidate set is all pairs and the operator must return exactly
    * the all-pairs brute-force top-k (hash-compared against a DuckDB
    * cross-join oracle). The v06 trick applied to the LSH family: it
    * pins the whole pipeline — bucketing, pair dedup, mirror union,
    * scoring, bounded-heap ranking — to ground truth; the production
    * configuration (v02) then differs only by the plane count. */
  def annExactTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.annTopK(
      Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id")),
      "vec_id", "embedding", k = 5, planes = -1, tables = 1,
      maxBucket = Int.MaxValue)
      .orderBy("query_id", "rank")

  /** v08: search a SAVED-then-LOADED IVF index — build the index,
    * persist it partitioned-by-cell ([[IvfIndex.save]]), reload from
    * disk ([[IvfIndex.load]]), and search the loaded artifact with
    * nProbe = nCells. Probing every cell is exact, so the result must
    * hash-equal v06 (same brute-force oracle) — certifying the
    * persisted index, the actual deployment shape at 100 TB (build
    * once, query many times from storage). */
  def ivfSavedTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val (assigned, centroids) = IvfIndex.build(spark, emb, "vec_id", "embedding", nCells = 8)
    // saved-index dirs are DEPLOYMENT artifacts: a loaded search
    // frame reads the dir lazily long after the query that wrote it,
    // so this call site opts into a floor well above the default
    // 8-newest heuristic (the RunTemp per-call-site contract)
    val idxDir = graft.core.RunTemp.dir("graft_ivf_index_", keep = 32)
    IvfIndex.save(assigned, centroids, idxDir)
    assigned.unpersist()
    val (loaded, loadedCentroids) = IvfIndex.load(spark, idxDir)
    IvfIndex.search(loaded, loadedCentroids, k = 5, nProbe = 8,
      queries = Some(emb.filter(col("vec_id") < 50)),
      idCol = "vec_id", vecCol = "embedding")
      .orderBy("query_id", "rank")
  }

  /** v11: INCREMENTAL index maintenance certified end-to-end — the
    * vector-index twin of d34's shard append. Build + save the IVF
    * index on the BASE corpus only (vec_id ≥ 50), [[IvfIndex.append]]
    * the increment against the saved centroid model (touched cells
    * gain files; untouched cells keep theirs byte-for-byte), reload,
    * and search at full probe width. Full-probe search over the
    * appended index must equal exact search over the whole corpus —
    * exactly what a REBUILD from scratch would return (v08's
    * brute-force oracle, verbatim): the append path loses no rows,
    * duplicates none, and bakes the same norms the builder does. The
    * limited-probe equivalence (append ≡ rebuild at nProbe < nCells)
    * plus the O(batch) untouched-files property are spec-pinned in
    * SimilaritySpec. At 100 TB this is the path that makes corpus
    * growth O(batch) instead of an O(corpus) re-index. */
  def ivfAppendTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val base = emb.filter(col("vec_id") >= 50)
    val increment = emb.filter(col("vec_id") < 50)
    val (assigned, centroids) = IvfIndex.build(spark, base, "vec_id", "embedding", nCells = 8)
    val idxDir = graft.core.RunTemp.dir("graft_ivf_append_", keep = 32)
    IvfIndex.save(assigned, centroids, idxDir)
    assigned.unpersist()
    IvfIndex.append(spark, idxDir, increment, "vec_id", "embedding")
    val (loaded, loadedCentroids) = IvfIndex.load(spark, idxDir)
    IvfIndex.search(loaded, loadedCentroids, k = 5, nProbe = 8,
      queries = Some(emb.filter(col("vec_id") < 50)),
      idCol = "vec_id", vecCol = "embedding")
      .orderBy("query_id", "rank")
  }

  /** v12: the index TAKEDOWN path certified end-to-end — build + save
    * on the full corpus, [[IvfIndex.delete]] a contiguous id range
    * (the licensing-removal / opt-out shape), reload, search at full
    * probe width. The result must equal exact search over the corpus
    * MINUS the deleted rows — what a rebuild-without-them would
    * return: a deleted row surviving anywhere (stale file, missed
    * cell, partial rewrite) or a survivor lost from a rewritten cell
    * breaks the hash. The O(touched-cells) property and limited-probe
    * equivalence are spec-pinned in SimilaritySpec. */
  def ivfDeleteTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val (assigned, centroids) = IvfIndex.build(spark, emb, "vec_id", "embedding", nCells = 8)
    val idxDir = graft.core.RunTemp.dir("graft_ivf_del_", keep = 32)
    IvfIndex.save(assigned, centroids, idxDir)
    assigned.unpersist()
    IvfIndex.delete(spark, idxDir,
      emb.filter(col("vec_id") >= 50 && col("vec_id") < 100), "vec_id")
    val (loaded, loadedCentroids) = IvfIndex.load(spark, idxDir)
    IvfIndex.search(loaded, loadedCentroids, k = 5, nProbe = 8,
      queries = Some(emb.filter(col("vec_id") < 50)),
      idCol = "vec_id", vecCol = "embedding")
      .orderBy("query_id", "rank")
  }

  /** v14: the full index-maintenance LIFECYCLE certified — build +
    * save on the base corpus, TWO appends (each landing new files in
    * its touched cells: genuine fragmentation), [[IvfIndex.compact]]
    * at the tightest threshold, reload, search at full probe width.
    * The result must equal exact search over the whole corpus: a row
    * lost or duplicated by the rewrite — or a stale pre-compact file
    * surviving — breaks the hash. The file-count and
    * untouched-cells-byte-identical properties are spec-pinned in
    * SimilaritySpec. */
  def ivfCompactTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val base = emb.filter(col("vec_id") >= 50)
    val (assigned, centroids) = IvfIndex.build(spark, base, "vec_id", "embedding", nCells = 8)
    val idxDir = graft.core.RunTemp.dir("graft_ivf_compact_q_", keep = 32)
    IvfIndex.save(assigned, centroids, idxDir)
    assigned.unpersist()
    IvfIndex.append(spark, idxDir,
      emb.filter(col("vec_id") < 25), "vec_id", "embedding")
    IvfIndex.append(spark, idxDir,
      emb.filter(col("vec_id") >= 25 && col("vec_id") < 50), "vec_id", "embedding")
    IvfIndex.compact(spark, idxDir, maxFilesPerCell = 1)
    val (loaded, loadedCentroids) = IvfIndex.load(spark, idxDir)
    IvfIndex.search(loaded, loadedCentroids, k = 5, nProbe = 8,
      queries = Some(emb.filter(col("vec_id") < 50)),
      idCol = "vec_id", vecCol = "embedding")
      .orderBy("query_id", "rank")
  }

  /** v13: seeded random projection of the embedding corpus
    * ([[Similarity.randomProjection]] — 64 → 16 dims), emitted as
    * exploded integer micro-unit coordinates. The oracle re-derives
    * the ±1 sign matrix from the portable mix (mixSqlU % 2) and the
    * integer sums from the same quantized inputs — bit-exact, so a
    * single flipped sign or reordered summation breaks the hash. */
  def randomProjectionUnits(spark: SparkSession, dir: String): DataFrame =
    Similarity.randomProjection(
      Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id")),
      "vec_id", "embedding")
      .orderBy("vec_id", "dim_j")

  /** v09: exact kNN over the int8-QUANTIZED corpus — the compressed
    * deployment shape ([[Similarity.quantizeInt8]]: 4× smaller
    * vectors, scale-invariant integer cosine). Hash-oracled: the
    * quantization and the integer cosine are engine-portable, so
    * DuckDB recomputes the identical ranking. */
  def int8Knn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    Similarity.int8TopK(emb, "vec_id", "embedding", k = 5,
      queries = Some(emb.filter(col("vec_id") < 50)))
      .orderBy("query_id", "rank")
  }

  /** v10: IVF over the int8-QUANTIZED corpus — the compressed-index
    * deployment shape (FAISS calls it IVF+SQ8: cells prune the search
    * space, int8 shrinks the vectors the cells store 4×). Driven to
    * exactness the v06 way (nProbe = nCells), so the output must
    * hash-equal int8 brute force — v09's oracle verbatim certifies
    * the whole composition (quantize → k-means build → cell probe →
    * integer scoring → rank). */
  def ivfInt8Knn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).repartition(widenWidth(spark), col("vec_id"))
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .select(col("vec_id"), transform(col("qvec"), x => x.cast("float")).as("embedding"))
    IvfIndex.topK(spark, q, "vec_id", "embedding", k = 5, nCells = 8, nProbe = 8,
      queries = Some(q.filter(col("vec_id") < 50)))
      .orderBy("query_id", "rank")
  }

  def embeddingNearDups(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(
      withPlantedNearDupVectors(kernelSession(spark, dir, "embeddings"), dir),
      "vec_id", "embedding", threshold = 0.95)
      .orderBy("id_a", "id_b")

  /** v05: SEMANTIC dedup groups — connected components over the
    * embedding-cosine near-dup pair graph (the vector-space twin of
    * d13's text-shingle clusters): every vector appearing in a ≥ 0.95
    * pair gets the minimum reachable vec_id as its cluster. The
    * composition a training pipeline runs to collapse paraphrase/
    * re-encode duplicates that exact and n-gram dedup both miss. */
  def embeddingClusters(spark: SparkSession, dir: String): DataFrame = {
    // Unsealed pair stage (see nearDupClusters for the contract).
    val scope = new graft.core.CacheScope
    val pairs = Similarity.cosineNearDupPairsUnsealed(
      withPlantedNearDupVectors(spark, dir), "vec_id", "embedding",
      threshold = 0.95, planes = 0, tables = 16, maxBucket = 2000, scope)
    val clusters = Dedup.connectedComponents(pairs)
    scope.release()
    clusters.select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id")
  }

  /** q36: batch bucketized RANGE JOIN — every view paired with the
    * same user's purchases in the following hour, via
    * [[RangeJoin.intervalJoin]]'s banded equi-join (never a
    * nested-loop theta product). Same output and oracle as the
    * streaming interval join s06: the batch and streaming temporal
    * joins are held to one ground truth. */
  def rangeJoinViewPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        unix_micros(col("ts")).as("view_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"))
    RangeJoin.intervalJoin(views, purchases, "view_us", "purchase_us",
      lowerUs = 0L, upperUs = 3600L * 1000 * 1000, equiKeys = Seq("user_id"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        (col("purchase_us") - col("view_us")).as("gap_us"))
      .orderBy("view_id", "purchase_id")
  }

  // -------------------------------------------------------- multimodal

  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(Multimodal.assetsFromDocuments(spark, dir))
      .toDF()
      .orderBy("asset_id")

  final case class ThumbRow(asset_id: Long, media_type: String,
      thumb_w: Long, thumb_h: Long, thumb_px: String, png_ok: Boolean)

  /** Thumbnail/"resize" plumbing (north-star multimodal mandate) —
    * now a REAL image pipeline, not a digest stand-in: each document's
    * first 256 code points become a 16×16 grayscale source image
    * (value = code point mod 256 — the crop-to-prefix bound makes the
    * per-row decode cost O(1) at any document size), box-mean
    * downsampled 4×4, ENCODED as a complete decodable PNG
    * ([[graft.multimodal.MediaHeaders.pngEncodeGray]] — zlib IDAT,
    * real CRCs), then DECODED BACK ([[graft.multimodal.MediaHeaders
    * .pngDecodeGray]]). The emitted dims come from the artifact's
    * parsed IHDR and the emitted pixels from the artifact's inflated
    * IDAT — so a broken encoder cannot hash-match: the oracle
    * recomputes the expected pixels independently (same code-point
    * arithmetic in SQL) and `png_ok` pins the round-trip equality. */
  def thumbnails(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, textOrNull) =>
          val text = Option(textOrNull).getOrElse("")
          val src = new Array[Int](256) // 16x16 source, zero-padded
          var i = 0; var ci = 0
          while (i < 256 && ci < text.length) {
            val cp = text.codePointAt(ci)
            src(i) = cp % 256
            ci += Character.charCount(cp); i += 1
          }
          val tp = new Array[Byte](16) // 4x4 box means (floor)
          var br = 0
          while (br < 4) {
            var bc = 0
            while (bc < 4) {
              var s = 0; var dr = 0
              while (dr < 4) {
                var dc = 0
                while (dc < 4) {
                  s += src((br * 4 + dr) * 16 + (bc * 4 + dc)); dc += 1
                }
                dr += 1
              }
              tp(br * 4 + bc) = (s / 16).toByte
              bc += 1
            }
            br += 1
          }
          val png = graft.multimodal.MediaHeaders.pngEncodeGray(4, 4, tp)
          graft.multimodal.MediaHeaders.pngDecodeGray(png) match {
            case Some((w, h, px)) =>
              ThumbRow(id,
                if (id % 2 == 0) "image" else "audio",
                w.toLong, h.toLong,
                px.map(b => f"${b & 0xff}%02x").mkString,
                png_ok = java.util.Arrays.equals(px, tp))
            case None =>
              ThumbRow(id, if (id % 2 == 0) "image" else "audio",
                0L, 0L, "", png_ok = false)
          }
        }
      }
      .toDF()
      .orderBy("asset_id")
  }

  def frameSamples(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.assetsFromDocuments(spark, dir).toDF(), n = 4, frameBytes = 32)
      .select(col("asset_id"), col("media_type"),
        col("frame_idx").cast("long").as("frame_idx"), col("frame_size"))
      .orderBy("asset_id", "frame_idx")

  /** d45: C4-style page/line heuristic filter (Raffel et al. 2020,
    * "Exploring the Limits of Transfer Learning with a Unified
    * Text-to-Text Transformer", §2.2's cleaning rules) — the
    * line-granular sibling of d44's word-granular Gopher gate:
    *   - keep only lines that end in terminal punctuation (. ! ? ")
    *   - drop lines with fewer than 5 words
    *   - drop lines containing the word "javascript"
    *   - drop the whole page if it contains "lorem ipsum" or "{"
    *   - drop pages with fewer than 3 sentences surviving the line
    *     filter (sentence count = terminal-punctuation chars on kept
    *     lines)
    *
    * The fixture corpus is single-line and punctuation-free, so the
    * rules would be degenerately all-fail on it; per the established
    * plant-then-recover contract (see [[withPlantedNearDups]]) the
    * operator first DERIVES a line-structured page deterministically
    * from each document's tokens — 8-word lines, a terminal-punct
    * cycle keyed on (doc_id + line), a planted "javascript " prefix
    * on every 11th (doc_id·7 + line) stripe, and planted
    * lorem-ipsum / curly-brace trailer lines on the doc_id % 23 / 29
    * stripes — every step integer/string-exact and re-derived
    * verbatim by the DuckDB oracle, so the gate hash-checks rule
    * FIRING, not just plumbing.
    *
    * Scale shape: embarrassingly parallel — construction and kernel
    * are one projection with higher-order array functions inside a
    * single codegen stage; no shuffle before the gate's ORDER BY. */
  def c4Rules(spark: SparkSession, dir: String): DataFrame =
    c4RulesOn(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The construction + rule kernel over any (doc_id, text) frame —
    * see [[c4Rules]] for the rule list and exactness contract. */
  def c4RulesOn(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("toks"))
      .withColumn("lines", expr(
        """transform(sequence(0, int((size(toks) + 7) div 8) - 1), g -> concat(
          |  IF((doc_id * 7 + g) % 11 = 0, 'javascript ', ''),
          |  array_join(slice(toks, int(g) * 8 + 1, 8), ' '),
          |  CASE (g + doc_id) % 4 WHEN 0 THEN '' WHEN 3 THEN '!' ELSE '.' END))"""
          .stripMargin))
      .withColumn("all_lines", expr(
        """concat(lines,
          |  IF(doc_id % 23 = 0, array('curabitur lorem ipsum dolor.'), array()),
          |  IF(doc_id % 29 = 0, array('function() { return 0; }'), array()))"""
          .stripMargin))
      .withColumn("kept", expr(
        """filter(all_lines, l ->
          |  (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
          |  AND size(filter(split(l, ' '), x -> x != '')) >= 5
          |  AND NOT l LIKE '%javascript%')""".stripMargin))
      .select(col("doc_id"),
        size(col("all_lines")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        expr("aggregate(kept, 0L, (a, l) -> a + length(l) - length(translate(l, '.!?', '')))")
          .as("n_sentences"),
        expr("exists(all_lines, l -> l LIKE '%lorem ipsum%')").as("has_lorem"),
        expr("exists(all_lines, l -> l LIKE '%{%')").as("has_brace"))
      .withColumn("keep",
        col("n_kept") >= 1L && col("n_sentences") >= 3L &&
          !col("has_lorem") && !col("has_brace"))

  /** d46: SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): partition the embedding space into clusters,
    * compute pairwise cosine only WITHIN each cluster, and keep one
    * representative (the minimum id) from every group of semantic
    * duplicates — the embedding-space sibling of d07/d09's lexical
    * near-dup keep rules.
    *
    * Clustering here is the d41 sign-cell construction (seeded ±1
    * random projection to `outDim` dims, cell = sign bitmask) rather
    * than k-means: it is integer-exact and re-derivable in SQL, so
    * the gate certifies the WHOLE chain — cell assignment, in-cell
    * pair generation with the hot-cell guard, quantized cosine,
    * and the greedy min-id keep rule — not just the final flags.
    * Within-cell-only comparison is the SemDeDup contract (cross-cell
    * duplicates are out of scope by design, there as here); planted
    * near-dup copies ([[withPlantedNearDupVectors]]) land in their
    * original's cell unless projection noise flips a sign, and both
    * engines agree either way.
    *
    * Scale shape: 2^outDim cells ⇒ expected occupancy n/2^outDim;
    * in-cell pairing rides [[Dedup.bucketSelfJoinPairs]] with its
    * hot-cell guard (guarded cells contribute no pairs — mirrored by
    * the oracle), so candidate volume stays O(n · occupancy), never
    * all-pairs. One shuffle for cells, one for pairs. */
  def semanticDedup(spark: SparkSession, dir: String,
      outDim: Int = 10, threshold: Double = 0.95, maxCell: Int = 4000): DataFrame = {
    val corpus = withPlantedNearDupVectors(kernelSession(spark, dir, "embeddings"), dir)
    val proj = Similarity.randomProjection(corpus, "vec_id", "embedding",
      inDim = 64, outDim = outDim)
    val cells = proj.groupBy(col("vec_id"))
      .agg(sum(when(col("y_units") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(dim_j AS INT))"))
        .otherwise(lit(0L))).as("cell"))
    val scope = new graft.core.CacheScope
    val base = scope.pin(corpus
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
      .join(cells, "vec_id")
      .select(col("vec_id").as("id"), col("cell"),
        col("embedding").as("vec"),
        Similarity.l2Norm(col("embedding")).as("norm")))
    val dupIds = Dedup.bucketSelfJoinPairs(base, Seq("cell"),
        Seq("id", "vec", "norm"), maxCell, scope)
      .withColumn("cosine", graft.functions.Quantize.quantize4(
        Similarity.cosineWithNorms(
          Similarity.dot(col("vec_a"), col("vec_b")),
          col("norm_a"), col("norm_b"))))
      .filter(col("cosine") >= threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("is_dup", lit(true))
    scope.sealResult(base.join(dupIds, Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"),
        (!coalesce(col("is_dup"), lit(false))).as("keep"))
      .orderBy("vec_id"))
  }
}
