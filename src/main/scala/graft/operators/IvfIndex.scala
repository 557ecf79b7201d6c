package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.SketchExpressions

/** IVF (inverted-file) approximate nearest neighbor: a k-means coarse
  * quantizer partitions the corpus into cells; queries probe only the
  * `nProbe` nearest cells. The second ANN family next to the sign-LSH
  * in [[Similarity]] (north-star mandate: "an IVF or LSH-bucketed
  * variant as the scale path").
  *
  * Division of labor is the point at scale:
  *  - TRAIN (driver-local, sampled): Lloyd's k-means fits `nCells`
  *    centroids on a bounded sample collected to the driver — on
  *    100 TB you fit on a sample regardless; the model is tiny
  *    (cells × dim floats) and a distributed fit would spend more on
  *    per-iteration job scheduling than on arithmetic.
  *  - ASSIGN (distributed, linear): every vector gets its cell id
  *    from one [[SketchExpressions.TopCells]] evaluation — one scan,
  *    the "index build". A real deployment persists this
  *    partitioned-by-cell.
  *  - SEARCH (distributed, pruned): each query ranks the (in-
  *    expression) centroid table, keeps `nProbe` cells, joins
  *    cell-partitioned candidates, exact-scores only those. Work per
  *    query drops from O(n) to O(n · nProbe / nCells), with no
  *    centroid crossJoin or window shuffle — probe selection is a
  *    per-row expression.
  */
object IvfIndex {

  /** Driver-local Lloyd's k-means over a sample: k-means++ style
    * seeding (deterministic, seeded) then at most `iters` sweeps,
    * stopping early when assignments stabilize. Returns `k` centroids
    * as float arrays (cells may end up empty on degenerate input —
    * they simply attract no candidates). */
  private[operators] def fitCentroids(sample: Array[Array[Float]], k: Int,
      seed: Long = 42L, iters: Int = 15): Array[Array[Float]] = {
    require(sample.nonEmpty, "cannot fit a quantizer on an empty sample")
    val dim = sample(0).length
    val rng = new scala.util.Random(seed)
    val n = sample.length

    def dist2(a: Array[Float], c: Array[Double]): Double = {
      var d = 0.0
      var i = 0
      while (i < dim) { val t = a(i) - c(i); d += t * t; i += 1 }
      d
    }

    // k-means++ seeding: first center uniform, then proportional to
    // squared distance from the nearest chosen center.
    val centers = Array.ofDim[Double](k, dim)
    val d2 = Array.fill(n)(Double.MaxValue)
    var c0 = sample(rng.nextInt(n))
    var ci = 0
    while (ci < k) {
      var j = 0
      while (j < dim) { centers(ci)(j) = c0(j); j += 1 }
      var i = 0
      var total = 0.0
      while (i < n) {
        val d = dist2(sample(i), centers(ci))
        if (d < d2(i)) d2(i) = d
        total += d2(i)
        i += 1
      }
      ci += 1
      if (ci < k) {
        var target = rng.nextDouble() * total
        var pick = 0
        i = 0
        while (i < n && target > 0) { target -= d2(i); if (target > 0) pick = math.min(i + 1, n - 1); i += 1 }
        c0 = sample(pick)
      }
    }

    val assign = new Array[Int](n)
    java.util.Arrays.fill(assign, -1)
    var it = 0
    var changed = true
    while (it < iters && changed) {
      changed = false
      var i = 0
      while (i < n) {
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val d = dist2(sample(i), centers(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (best != assign(i)) { assign(i) = best; changed = true }
        i += 1
      }
      if (changed) {
        val sums = Array.ofDim[Double](k, dim)
        val counts = new Array[Int](k)
        i = 0
        while (i < n) {
          val c = assign(i)
          counts(c) += 1
          var j = 0
          while (j < dim) { sums(c)(j) += sample(i)(j); j += 1 }
          i += 1
        }
        var c = 0
        while (c < k) {
          if (counts(c) > 0) {
            var j = 0
            while (j < dim) { centers(c)(j) = sums(c)(j) / counts(c); j += 1 }
          }
          c += 1
        }
      }
      it += 1
    }
    centers.map(_.map(_.toFloat))
  }

  /** Fit centroids on a bounded deterministic sample of `df`:
    * order by a hash of the vector and take the top `maxSample`.
    * A bare `limit()` would take an arbitrary PREFIX (typically the
    * first file/partitions) — on corpora ordered by time or source
    * the quantizer would fit a biased slice and cell balance/recall
    * degrade at scale. Hash-ordering is a uniform pseudo-random
    * draw over the whole corpus, still deterministic across runs,
    * and plans as TakeOrdered (per-partition top-N + merge), not a
    * full sort. */
  private[operators] def trainQuantizer(df: DataFrame, vecCol: String,
      nCells: Int, seed: Long = 42L, maxSample: Int = 100000): Array[Array[Float]] = {
    val sample = df.select(col(vecCol))
      .orderBy(xxhash64(col(vecCol))).limit(maxSample).collect()
      .map(_.getSeq[Float](0).toArray)
    fitCentroids(sample, nCells, seed)
  }

  /** Build cell assignments (the distributed index artifact).
    *
    * `attrCols` names metadata columns of `df` carried INTO the index
    * rows (tenant / category / language labels) so [[search]] can
    * constrain candidates to matching-attribute rows — filtered vector
    * search, the production shape where every query runs inside a
    * metadata scope. Stored alongside id/vec/norm/cell, they ride the
    * same partitioned persistence and cost nothing when unused. */
  def build(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, seed: Long = 42L,
      attrCols: Seq[String] = Nil): (DataFrame, Array[Array[Float]]) = {
    // null embeddings excluded — see Similarity.bruteForceTopK's
    // contract note (a null vector can't be assigned a cell anyway)
    val base = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id") +: col(vecCol).as("vec") +:
        attrCols.map(col): _*)
    val centroids = trainQuantizer(base, "vec", nCells, seed)
    // Materialize the index: cell assignment + per-row norm is the
    // build artifact (production persists it partitioned by cell).
    // cache() — see Dedup.bucketSelfPairs for the cache-vs-checkpoint
    // tradeoff; callers clear the session cache between jobs.
    val assigned = base
      .withColumn("cell",
        SketchExpressions.topCells(col("vec"), centroids, 1).getItem(0))
      .withColumn("norm", Similarity.l2Norm(col("vec")))
      .cache()
    (assigned, centroids)
  }

  /** Persist the index: cell assignments as parquet PARTITIONED BY
    * cell (a probe touches only its cells' files — partition pruning
    * is the on-disk analogue of the in-memory cell join), plus the
    * centroid model as a tiny table. This is the artifact a 100 TB
    * deployment builds once and queries many times; rebuilding the
    * quantizer per query batch (what [[topK]] does for its
    * self-contained demo shape) would re-scan the corpus. */
  def save(assigned: DataFrame, centroids: Array[Array[Float]], dir: String): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    // id/vec/norm/cell first, then any filterable attribute columns
    // the build carried (they persist with the index so a loaded
    // index supports the same filtered searches as the in-memory one)
    val attrs = assigned.columns
      .filterNot(Set("id", "vec", "norm", "cell")).toSeq
    assigned.select((Seq("id", "vec", "norm").map(col) ++
        attrs.map(col) :+ col("cell")): _*)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** The centroid model of a persisted index — tiny (cells × dim
    * floats), bounded driver load. */
  private def loadCentroids(spark: SparkSession, dir: String): Array[Array[Float]] =
    // sort DRIVER-side: a distributed orderBy before a tiny model
    // collect pays a range exchange (plus its AQE materialization
    // job) to order rows the driver can sort in microseconds
    spark.read.parquet(s"$dir/centroids").collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toArray)

  /** Load a persisted index: (assignments, centroids). */
  def load(spark: SparkSession, dir: String): (DataFrame, Array[Array[Float]]) = {
    (spark.read.parquet(s"$dir/cells"), loadCentroids(spark, dir))
  }

  /** Incrementally grow a SAVED index: assign `newVectors` to the
    * EXISTING centroid model and append their rows to the touched cell
    * partitions only — untouched cells keep their files byte-for-byte.
    * This is the maintenance path the deployment shape needs at scale:
    * corpus growth must not force a full k-means rebuild and corpus
    * rewrite (O(corpus)); an append is O(batch) — one distributed
    * assignment scan of the batch, new parquet files landing only
    * under `cell=<touched>/` directories.
    *
    * The quantizer is intentionally NOT refit: cell ASSIGNMENT defines
    * correctness (a vector is found by probing the cell it was
    * assigned to), so searching with the same saved model stays exact
    * at nProbe = nCells and keeps its recall shape otherwise. After
    * heavy drift (cell occupancies skewing), rebuild with [[build]] +
    * [[save]] — the spec pins that an appended index searches
    * identically to a from-scratch build at full probe width.
    *
    * Caller contract: `newVectors` ids must be disjoint from the saved
    * corpus (same uniqueness contract as [[build]]'s input — the index
    * stores assignments, not versions; replaying a batch would
    * duplicate candidates).
    *
    * Returns the touched cell ids (sorted) — the partitions whose file
    * sets changed — for observability and maintenance bookkeeping. */
  def append(spark: SparkSession, dir: String, newVectors: DataFrame,
      idCol: String, vecCol: String): Array[Int] = {
    val centroids = loadCentroids(spark, dir)
    // Attribute columns the saved index carries (filtered-search
    // metadata, see build's attrCols) must ride every appended row
    // too, or the cell files diverge in schema and filtered searches
    // silently lose the new rows; deriving the set from the saved
    // schema makes a batch missing one fail at analysis — loudly.
    val attrs = spark.read.parquet(s"$dir/cells").columns
      .filterNot(Set("id", "vec", "norm", "cell")).toSeq
    val assigned = newVectors.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id") +: col(vecCol).as("vec") +:
        attrs.map(col): _*)
      .withColumn("cell",
        SketchExpressions.topCells(col("vec"), centroids, 1).getItem(0))
      .withColumn("norm", Similarity.l2Norm(col("vec")))
      .cache() // two actions below: the partitioned write + touched-cell agg
    assigned.select((Seq("id", "vec", "norm").map(col) ++
        attrs.map(col) :+ col("cell")): _*)
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
    val touched = assigned.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    assigned.unpersist()
    touched
  }

  /** Incrementally SHRINK a saved index: remove `ids` rows by
    * rewriting only the cell partitions that contain them —
    * untouched cells keep their files byte-for-byte, the exact
    * mirror of [[append]]'s O(batch) contract. This is the takedown
    * path a deployed index needs (licensing removals, opt-outs,
    * contamination pulls): the work is O(touched cells' rows), never
    * an O(corpus) re-index, and the quantizer is NOT refit for the
    * same reason as append — cell assignment of the survivors is
    * unchanged, so search behavior over them is identical.
    *
    * Mechanics: survivors of the touched cells are staged OUTSIDE the
    * index dir first (a lazy scan must never feed an overwrite of its
    * own input path); cells whose every row was deleted are removed
    * BEFORE the republish (dynamic overwrite writes no files for an
    * empty partition, so a post-publish removal left a crash window
    * in which a "completed-looking" index silently served every
    * deleted row of those cells); then the survivors are written back
    * under WRITE-SCOPED dynamic partition overwrite so exactly the
    * non-empty touched `cell=` dirs are replaced.
    *
    * Crash contract (documented non-transactional window): a death
    * between the emptied-cell removal and the republish leaves the
    * remaining touched cells holding their PRE-delete files — a
    * stale-but-consistent index in which no completed delete is
    * half-visible, and REPLAYING the same delete finishes the job
    * (ids already gone are ignored). The failure mode the old order
    * allowed — deleted rows served after an apparently successful
    * publish — cannot occur. True multi-writer atomicity needs the
    * warehouse's versioned-commit protocol; an index is a derived
    * artifact, so replay-to-repair is the right cost point.
    *
    * Returns the touched cell ids (sorted). Ids absent from the index
    * are ignored (idempotent replay, same contract as the warehouse
    * upsert's). */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Array[Int] = {
    val cellsPath = s"$dir/cells"
    val del = ids.select(col(idCol).as("id")).distinct()
    val cells = spark.read.parquet(cellsPath)
    val touched = cells.join(del, Seq("id")).select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return touched
    val stage = graft.core.RunTemp.dir("graft_ivf_delete_", keep = 8)
    // no column select: survivors keep the full index schema,
    // including any filtered-search attribute columns (build attrCols)
    cells.filter(col("cell").isin(touched.map(Int.box): _*))
      .join(del, Seq("id"), "left_anti")
      .write.mode("overwrite").parquet(stage)
    val survivors = spark.read.parquet(stage)
    val nonEmpty = survivors.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(cellsPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // emptied cells first — see the crash contract above
    touched.filterNot(nonEmpty).foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(cellsPath, s"cell=$c"), true)
    }
    // write-scoped override: mutating the shared session conf raced
    // against concurrent writers in the same session
    survivors.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(cellsPath)
    touched
  }

  /** COMPACT cells fragmented by repeated [[append]]s: every cell
    * holding more than `maxFilesPerCell` parquet files is rewritten
    * into ONE file; all other cells keep their files byte-for-byte.
    * The index twin of the warehouse's compaction — append keeps
    * ingest O(batch) by landing new files per touched cell, and this
    * is the periodic maintenance that stops per-cell file counts
    * (and thus probe-time open/seek overhead) from growing without
    * bound. Row content is untouched: search over the compacted
    * index is identical at any probe width (spec-pinned; v14
    * hash-certifies the full-probe equality through a
    * fragment-then-compact lifecycle).
    *
    * Fragmentation is measured driver-side from the cell directory
    * listing — bounded by nCells, no Spark job. The rewrite stages
    * survivors outside the index dir (no scan-feeding-overwrite),
    * repartitions BY CELL so each rewritten cell lands as exactly one
    * task's one file, and republishes under dynamic partition
    * overwrite. Returns the compacted cell ids (sorted). */
  def compact(spark: SparkSession, dir: String,
      maxFilesPerCell: Int = 4): Array[Int] = {
    require(maxFilesPerCell >= 1, s"maxFilesPerCell must be >= 1, got $maxFilesPerCell")
    val cellsPath = s"$dir/cells"
    val root = new org.apache.hadoop.fs.Path(cellsPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val frag = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .filter { s =>
        fs.listStatus(s.getPath)
          .count(_.getPath.getName.endsWith(".parquet")) > maxFilesPerCell
      }
      .map(_.getPath.getName.stripPrefix("cell=").toInt)
      .sorted.toArray
    if (frag.isEmpty) return frag
    val stage = graft.core.RunTemp.dir("graft_ivf_compact_", keep = 8)
    // full index schema kept (attribute columns included) — see delete
    spark.read.parquet(cellsPath)
      .filter(col("cell").isin(frag.map(Int.box): _*))
      .write.mode("overwrite").parquet(stage)
    val staged = spark.read.parquet(stage)
      .repartition(frag.length, col("cell"))
    // write-scoped override: mutating the shared session conf raced
    // against concurrent writers in the same session. Compaction
    // rewrites every touched cell with identical rows, so the crash
    // window here is benign — a died republish leaves some cells
    // compacted and some not, both fully readable; re-running
    // compact() converges.
    staged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(cellsPath)
    frag
  }

  /** Approximate top-k via cell probing. `queries` defaults to the
    * whole corpus (all-pairs kNN shape); external query frames must
    * carry distinct ids. */
  def topK(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 3,
      queries: Option[DataFrame] = None): DataFrame = {
    val (assigned, centroids) = build(spark, df, idCol, vecCol, nCells)
    // Self-contained shape: materialize the search result and release
    // the index cache (callers of build/search manage it themselves —
    // the index is their artifact; here it is internal). The caller's
    // column names are forwarded so an external query frame binds by
    // the same idCol/vecCol as the corpus.
    val out = search(assigned, centroids, k, nProbe, queries, idCol, vecCol).cache()
    out.count()
    assigned.unpersist()
    out
  }

  /** Search a (built or loaded) index.
    *
    * `attrCols` (must have been carried into the index by [[build]]'s
    * `attrCols`, and be present on the query frame) constrain
    * candidates to rows whose attributes EQUAL the query's — filtered
    * ANN. The filter composes into the candidate JOIN KEY, so it is
    * enforced at the cell scan (on a persisted index Catalyst pushes
    * the equality to the parquet reader), never as a post-ranking
    * filter that silently returns < k rows: every candidate scored is
    * in-scope. Queries should raise `nProbe` in proportion to filter
    * selectivity — in-scope candidate density per probed cell drops by
    * the selectivity factor. */
  def search(assigned: DataFrame, centroids: Array[Array[Float]],
      k: Int, nProbe: Int, queries: Option[DataFrame] = None,
      idCol: String = "id", vecCol: String = "vec",
      attrCols: Seq[String] = Nil): DataFrame = {

    // External queries compute their own norms; the all-pairs default
    // reuses the norm baked into the build artifact. Null query
    // vectors are excluded like everywhere else (contract note in
    // Similarity.bruteForceTopK).
    val q = queries
      .map(qf => qf.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("id") +: col(vecCol).as("vec") +:
          attrCols.map(col): _*)
        .withColumn("qnorm", Similarity.l2Norm(col("vec"))))
      .getOrElse(assigned.select(
        col("id") +: col("vec") +: col("norm").as("qnorm") +:
          attrCols.map(col): _*))

    // Probe selection is one expression evaluation per query row —
    // the centroid table lives inside the expression, so there is no
    // crossJoin and no window shuffle here.
    val probes = q
      .withColumn("cell",
        explode(SketchExpressions.topCells(col("vec"), centroids, nProbe)))
      .select(col("id").as("query_id") +: col("vec").as("query_vec") +:
        col("qnorm") +: col("cell") +: attrCols.map(col): _*)

    // Candidate join inside probed cells only, then exact cosine top-k
    // (norms precomputed per row, not per pair). No pair dedup needed:
    // a neighbor lives in exactly one cell, so (query, nbr) is unique.
    val cands = probes.join(
        assigned.select(col("cell") +: col("id").as("nbr_id") +:
          col("vec").as("nbr_vec") +: col("norm").as("nnorm") +:
          attrCols.map(col): _*),
        "cell" +: attrCols)
      .filter(col("query_id") =!= col("nbr_id"))
    val scored = cands
      .withColumn("cosine", Similarity.cosineWithNorms(
        SketchExpressions.floatDot(col("query_vec"), col("nbr_vec")),
        col("qnorm"), col("nnorm")))
      .select(col("query_id"), col("nbr_id"), col("cosine"))
    Similarity.rankTopK(scored, "query_id", "cosine", "nbr_id", k)
      .select(col("query_id"), col("nbr_id"),
        graft.functions.Quantize.quantize4(col("cosine")).as("cosine"),
        col("rank").cast("long").as("rank"))
  }

  // ───────────────────────── IVF-PQ ─────────────────────────
  // Cell-residual product quantization (Jégou et al., TPAMI 2011) —
  // the component that makes a trillion-vector index RAM-resident:
  // each vector is stored as its cell id plus m sub-quantizer codes
  // (m·log2(ks) bits — 8 bytes at the default 8×256 geometry, the
  // classic 8-bit PQ) instead of dim·4 bytes of floats — 32× smaller
  // at dim 64, and the ratio GROWS with dim. Search never touches
  // raw CORPUS vectors: ADC scores candidates directly from (query
  // vector, cell centroid, codes) in one O(dim) residual loop per
  // pair. Training follows the fitCentroids division of labor: all
  // models (coarse centroids + m residual codebooks) fit driver-side
  // on one bounded sample — on 100 TB you fit on a sample regardless
  // and the full model is nCells·dim + m·ks·(dim/m) floats (~12 KB
  // default), a plan-embedded broadcast like the centroid table.

  /** The trained IVF-PQ model: coarse centroids + per-subspace
    * residual codebooks (`codebooks(s)(j)` is entry j of subspace s,
    * each of length dim/m). */
  final case class PqModel(centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def ks: Int = codebooks(0).length
  }

  /** Fit the coarse quantizer AND the m residual sub-codebooks from
    * ONE bounded, hash-ordered sample (the [[trainQuantizer]] draw):
    * sample → coarse k-means → per-sample residual against its
    * nearest centroid → per-subspace k-means over residual slices.
    * Distinct seeds per subspace keep codebooks independent. */
  private[operators] def trainPq(df: DataFrame, vecCol: String, nCells: Int,
      m: Int, ks: Int, seed: Long = 42L, maxSample: Int = 100000): PqModel = {
    val sample = df.select(col(vecCol))
      .orderBy(xxhash64(col(vecCol))).limit(maxSample).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "cannot fit a PQ model on an empty sample")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must be divisible by m=$m subspaces")
    val sub = dim / m
    val centroids = fitCentroids(sample, nCells, seed)
    val residuals = sample.map { v =>
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        val cent = centroids(c)
        var d = 0.0
        var i = 0
        while (i < dim) { val t = v(i).toDouble - cent(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      val cent = centroids(best)
      Array.tabulate(dim)(i => v(i) - cent(i))
    }
    // the m sub-fits are independent — run them on the driver's cores
    // (at ks = 256 over a full 100k sample a serial loop is tens of
    // seconds of single-threaded k-means; the fits dominate buildPq)
    val codebooks = new Array[Array[Array[Float]]](m)
    java.util.stream.IntStream.range(0, m).parallel().forEach { s =>
      codebooks(s) = fitCentroids(residuals.map(r =>
        java.util.Arrays.copyOfRange(r, s * sub, (s + 1) * sub)), ks, seed + 1 + s)
    }
    PqModel(centroids, codebooks)
  }

  /** Encode vectors against a FROZEN PQ model: one distributed scan
    * assigning each vector its cell and its m residual codes. Shared
    * by [[buildPq]] (right after training) and [[appendPq]] (against
    * the saved model) — having ONE encode path is what makes
    * "append ≡ re-encode-everything-with-the-same-model" an exact,
    * certifiable equality rather than a two-implementations hope. */
  private[graft] def encodePq(df: DataFrame, idCol: String, vecCol: String,
      model: PqModel, attrCols: Seq[String] = Nil): DataFrame = {
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id") +: col(vecCol).as("vec") +:
        attrCols.map(col): _*)
      .withColumn("cell",
        SketchExpressions.topCells(col("vec"), model.centroids, 1).getItem(0))
      .withColumn("codes",
        SketchExpressions.pqEncode(col("vec"), col("cell"),
          model.centroids, model.codebooks))
      .select(("id" +: "cell" +: "codes" +: attrCols).map(col): _*)
  }

  /** Build the PQ-coded index: one distributed scan assigning each
    * vector its cell and its m residual codes. The artifact carries
    * (id, cell, codes) ONLY — no vectors — which is what makes the
    * index small enough to live in memory at any corpus size. */
  def buildPq(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, m: Int = 8, ks: Int = 256, seed: Long = 42L,
      attrCols: Seq[String] = Nil): (DataFrame, PqModel) = {
    val base = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id") +: col(vecCol).as("vec") +:
        attrCols.map(col): _*)
    val model = trainPq(base, "vec", nCells, m, ks, seed)
    val encoded = encodePq(base, "id", "vec", model, attrCols).cache()
    (encoded, model)
  }

  /** Incrementally grow a SAVED PQ index: encode `newVectors` against
    * the FROZEN saved model (coarse centroids AND residual codebooks —
    * neither is refit) and append the coded rows to the touched cell
    * partitions only; untouched cells keep their files byte-for-byte.
    * The PQ twin of [[append]], and the piece that turns the PQ index
    * from a demo into a production artifact: at trillion-vector scale
    * the PQ index is the RAM-resident one, and a corpus append must
    * cost O(batch) — one encode scan of the batch — never an
    * O(corpus) codebook retrain + full re-encode.
    *
    * Drift contract (the documented cost of freezing): appended
    * vectors are quantized by codebooks fit on the ORIGINAL sample.
    * Cell assignment still defines search correctness (a vector is
    * found by probing its assigned cell, exactly as in [[append]]);
    * what drifts is ADC precision — if the new data's residual
    * distribution shifts far from the training sample's, quantization
    * error grows and recall@k erodes. The maintenance loop is:
    * monitor recall on a held-out truth set, rebuild with [[buildPq]]
    * + [[savePq]] past the drift budget. The spec-pinned invariant
    * here is exact: the appended artifact equals a one-shot
    * [[encodePq]] of the full corpus under the same model, row for
    * row, code for code.
    *
    * Caller contract: `newVectors` ids disjoint from the saved corpus
    * (same as [[append]]). Returns the touched cell ids (sorted). */
  def appendPq(spark: SparkSession, dir: String, newVectors: DataFrame,
      idCol: String, vecCol: String): Array[Int] = {
    val (cells, model) = loadPq(spark, dir)
    // attribute columns (filtered-search metadata) derived from the
    // saved schema, same loud-on-missing contract as append's — read
    // off the frame loadPq already constructed, not a second scan
    val attrs = cells.columns
      .filterNot(Set("id", "codes", "cell")).toSeq
    val coded = encodePq(newVectors, idCol, vecCol, model, attrs)
      .cache() // two actions: partitioned write + touched-cell agg
    coded.select((Seq("id", "codes").map(col) ++
        attrs.map(col) :+ col("cell")): _*)
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
    val touched = coded.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    coded.unpersist()
    touched
  }

  /** Remove `ids` from a saved PQ index. [[delete]] is already
    * payload-agnostic — it rewrites touched `cell=` partitions by an
    * id anti-join and never names the payload columns — so the PQ
    * layout (id, codes, cell) rides the identical mechanics, crash
    * contract included. Codes are per-row and the model is untouched,
    * so survivors' search behavior is bit-identical. */
  def deletePq(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Array[Int] = delete(spark, dir, ids, idCol)

  /** Compact a PQ index fragmented by repeated [[appendPq]]s — same
    * payload-agnostic cell rewrite as [[compact]] (row content
    * untouched; only file counts change). */
  def compactPq(spark: SparkSession, dir: String,
      maxFilesPerCell: Int = 4): Array[Int] = compact(spark, dir, maxFilesPerCell)

  /** One monitoring pass over a saved PQ index: recall@k of its ADC
    * search against a held-out exact TRUTH set, plus the rebuild
    * recommendation against a declared budget. */
  final case class PqRecallReport(recall: Double, truthRows: Long,
      rebuildRecommended: Boolean)

  /** The CONTROL LOOP the frozen-model drift contract promises
    * ([[appendPq]]'s doc): score the SAVED index's search recall@k on
    * a held-out truth set and flag a rebuild when it sinks below
    * `minRecall`. Run it on the maintenance cadence (after appends,
    * before promoting the index); when it flags, [[buildPq]] +
    * [[savePq]] refit the codebooks on the grown corpus and the next
    * monitoring pass certifies the recovery.
    *
    * `truth` carries the exact expected neighbors as (query_id,
    * nbr_id) rows — typically [[graft.operators.Similarity
    * .bruteForceTopK]] over a held-out query sample, the one exact
    * scan a production deployment amortizes across many monitor runs.
    *
    * Scale shape: one ADC search at the index's own cost, one
    * LEFT SEMI join of the truth rows (queries × k — the held-out
    * sample, never the corpus) and two counts; the driver receives
    * three scalars. No full-corpus work beyond the search itself. */
  def pqRecallMonitor(spark: SparkSession, dir: String, queries: DataFrame,
      truth: DataFrame, k: Int, nProbe: Int, minRecall: Double,
      idCol: String = "id", vecCol: String = "vec"): PqRecallReport = {
    require(minRecall >= 0.0 && minRecall <= 1.0,
      s"minRecall must be in [0, 1], got $minRecall")
    val (encoded, model) = loadPq(spark, dir)
    val got = searchPq(encoded, model, k, nProbe, queries, idCol, vecCol)
      .select(col("query_id"), col("nbr_id"))
    val t = truth.select(col("query_id"), col("nbr_id")).cache()
    val total = t.count()
    val hits = t.join(got, Seq("query_id", "nbr_id"), "left_semi").count()
    t.unpersist()
    val recall = if (total == 0L) 1.0 else hits.toDouble / total
    PqRecallReport(recall, total, recall < minRecall)
  }

  /** ADC search over a PQ-coded index: queries pick `nProbe` cells
    * ([[SketchExpressions.TopCells]], per-row expression, no
    * crossJoin), join candidates inside probed cells, and score each
    * candidate DIRECTLY from (query vector, cell, codes) in one
    * O(dim) residual loop ([[SketchExpressions.PqAdcDistance]] — see
    * its scaladoc for why the textbook per-(query, cell) lookup
    * table, tried first, lost 5-8× to its own shuffle bytes) — raw
    * CORPUS vectors are never read. Ranking is ascending approximate
    * distance with the bounded-heap [[graft.plans.TopKPerKey]] route
    * (scores negated so the shared descending top-k applies).
    * Lower-bound caveat baked into the contract: ADC distance is
    * approximate, so the result is certified by recall against exact
    * truth (the v04 pattern), not hash equality. */
  def searchPq(encoded: DataFrame, model: PqModel, k: Int, nProbe: Int,
      queries: DataFrame, idCol: String = "id", vecCol: String = "vec",
      attrCols: Seq[String] = Nil): DataFrame = {
    // attrCols: same filtered-search contract as [[search]] — the
    // attribute equality rides the candidate join key, so the scope
    // filter is enforced at the cell scan. Filtered ADC search over
    // attribute L is STRUCTURALLY the unfiltered search over the
    // label-L sub-index with the same model (spec-pinned): codes and
    // cell assignments are per-row, unaffected by the filter.
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id") +: col(vecCol).as("vec") +:
        attrCols.map(col): _*)
    val probes = q
      .withColumn("cell",
        explode(SketchExpressions.topCells(col("vec"), model.centroids, nProbe)))
      .select(col("id").as("query_id") +: col("vec").as("query_vec") +:
        col("cell") +: attrCols.map(col): _*)
    val scored = probes.join(
        encoded.select(col("cell") +: col("id").as("nbr_id") +:
          col("codes") +: attrCols.map(col): _*),
        "cell" +: attrCols)
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (-SketchExpressions.pqAdcDistance(col("query_vec"), col("cell"),
          col("codes"), model.centroids, model.codebooks)).as("score"))
    Similarity.rankTopK(scored, "query_id", "score", "nbr_id", k)
      .select(col("query_id"), col("nbr_id"), col("rank").cast("long").as("rank"))
  }

  /** Persist a PQ-coded index: codes partitioned by cell (probe-time
    * partition pruning, [[save]]'s on-disk contract) plus the two
    * tiny model tables (coarse centroids; sub-quantizer codebooks as
    * (subspace, code, entry) rows). The deployment artifact at
    * trillion-vector scale IS this: ~8-32 B of codes per vector on
    * disk, models measured in KB. */
  def savePq(encoded: DataFrame, model: PqModel, dir: String): Unit = {
    val spark = encoded.sparkSession
    import spark.implicits._
    // attribute columns (filtered-search metadata) persist with the
    // codes, same contract as [[save]]
    val attrs = encoded.columns
      .filterNot(Set("id", "codes", "cell")).toSeq
    encoded.select((Seq("id", "codes").map(col) ++
        attrs.map(col) :+ col("cell")): _*)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    (for {
      s <- model.codebooks.indices
      j <- model.codebooks(s).indices
    } yield (s, j, model.codebooks(s)(j).toSeq)).toDF("subspace", "code", "entry")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Load a persisted PQ index: (coded assignments, model). Model
    * load is bounded driver traffic (KB). */
  def loadPq(spark: SparkSession, dir: String): (DataFrame, PqModel) = {
    // driver-side sorts, same rationale as [[loadCentroids]]: the
    // model tables are KB-sized; the distributed orderBy cost two
    // extra jobs per load under AQE
    val centroids = spark.read.parquet(s"$dir/centroids").collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toArray)
    val books = spark.read.parquet(s"$dir/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .sortBy(r => (r._1, r._2))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
      .toArray
    (spark.read.parquet(s"$dir/cells"), PqModel(centroids, books))
  }

  /** Self-contained IVF-PQ top-k (the [[topK]] demo shape): build the
    * coded index over `df`, ADC-search it, release the index cache. */
  /** ADC search to `depth` candidates, then EXACT-score RERANK of
    * just those candidates from the raw vectors — the standard
    * production ANN deployment (FAISS's IVFPQ + refine, every vector
    * DB's "rerank" stage): the PQ codes answer "which ~depth rows
    * could be close" from RAM-resident bytes, and the raw-vector
    * store is touched only for queries × depth point lookups, never
    * scanned. Reranking converts ADC's quantization-ranking errors
    * back into exact ordering, so recall@k approaches the PQ
    * candidate recall@depth — strictly better than raw ADC@k.
    *
    * Scale shape: the candidate list (queries × depth rows of two
    * ids) BROADCASTS into one pass over the vector store — no
    * shuffle of the corpus, no index re-read; the exact cosine runs
    * only on candidates. Contract: the per-batch candidate list must
    * be broadcastable (queries are batched upstream — the same
    * assumption every query-batch join here makes). */
  def searchPqRerank(encoded: DataFrame, model: PqModel, vectors: DataFrame,
      k: Int, depth: Int, nProbe: Int, queries: DataFrame,
      idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    require(depth >= k, s"rerank depth $depth must be >= k=$k")
    val cands = searchPq(encoded, model, depth, nProbe, queries, idCol, vecCol)
      .select("query_id", "nbr_id")
    val v = vectors.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("nbr_id"), col(vecCol).as("nv"))
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val exact = v.join(broadcast(cands), "nbr_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("nbr_id"),
        Similarity.cosine(col("qv"), col("nv")).as("score"))
    Similarity.rankTopK(exact, "query_id", "score", "nbr_id", k)
      .select(col("query_id"), col("nbr_id"), col("rank").cast("long").as("rank"))
  }

  def pqTopK(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 10, m: Int = 8, ks: Int = 256, nProbe: Int = 4,
      queries: Option[DataFrame] = None): DataFrame = {
    val (encoded, model) = buildPq(spark, df, idCol, vecCol, nCells, m, ks)
    val out = searchPq(encoded, model, k, nProbe,
      queries.getOrElse(df), idCol, vecCol).cache()
    out.count()
    encoded.unpersist()
    out
  }
}
