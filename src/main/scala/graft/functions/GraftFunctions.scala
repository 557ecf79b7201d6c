package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-function surface for the engine's custom Catalyst expressions:
  * every sketch/text kernel is callable from `spark.sql(...)` as
  * `graft_*`, so the library's capabilities are first-class in BOTH
  * APIs (Column and SQL) — a user of the reference's SQL-only
  * analytics path (Metabase→Postgres, SURVEY.md §3 entry point 3) can
  * call the training-data operators without touching the Scala DSL.
  *
  * Two registration paths, same builders:
  *  - [[GraftExtensions]] via
  *    `spark.sql.extensions=graft.functions.GraftExtensions` (set by
  *    [[graft.core.GraftSession]]) or a builder's
  *    `withExtensions(new GraftExtensions)` — the standard plug-in
  *    mechanism for a cluster deployment;
  *  - [[GraftFunctions.register]] on a live session — convenient for
  *    notebooks/tests.
  */
object GraftFunctions {

  import SketchExpressions._

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** name → (usage doc, declared arity, builder). All builders consume
    * analyzed child expressions; integer tuning knobs must be literals
    * (they size arrays inside the expression, exactly like Spark's own
    * `approx_count_distinct` precision argument). */
  private val rawRegistrations: Seq[(String, String, Int, Seq[Expression] => Expression)] = Seq(
    ("graft_tokenize",
      "graft_tokenize(text) - lowercased whitespace tokens, empties dropped", 1,
      (args: Seq[Expression]) => Tokenize(args.head)),
    ("graft_simhash64",
      "graft_simhash64(text) - 64-bit SimHash of the token stream (xxhash64 family)", 1,
      (args: Seq[Expression]) => SimHash64(Tokenize(args.head))),
    ("graft_simhash64_portable",
      "graft_simhash64_portable(text) - SimHash with the portable token hash " +
        "(recomputable in external SQL engines)", 1,
      (args: Seq[Expression]) => SimHash64(Tokenize(args.head), portable = true)),
    ("graft_shingle_hashes",
      "graft_shingle_hashes(text, k) - sorted distinct 64-bit hashes of the k-word shingles", 2,
      (args: Seq[Expression]) => ShingleHashes(args.head, intArg(args(1), "k"))),
    ("graft_shingle_hashes_portable",
      "graft_shingle_hashes_portable(text, k) - shingle hashes with the portable " +
        "(external-SQL-recomputable) hash family", 2,
      (args: Seq[Expression]) => PortableShingleHashes(args.head, intArg(args(1), "k"))),
    ("graft_minhash_union",
      "graft_minhash_union(shingle_hashes, numHashes) - AGGREGATE: MinHash signature " +
        "of the union of the group's shingle sets (mergeable partial state)", 2,
      (args: Seq[Expression]) => MinHashUnionAgg(args.head, intArg(args(1), "numHashes"))
        .toAggregateExpression()),
    ("graft_minhash",
      "graft_minhash(text, numHashes, k) - MinHash signature over the k-word shingle set", 3,
      (args: Seq[Expression]) => MinHashFromHashes(
        ShingleHashes(args.head, intArg(args(2), "k")), intArg(args(1), "numHashes"))),
    ("graft_band_hashes",
      "graft_band_hashes(sig, bands) - LSH band hashes of a MinHash signature", 2,
      (args: Seq[Expression]) => BandHashes(args.head, intArg(args(1), "bands"))),
    ("graft_jaccard_sorted",
      "graft_jaccard_sorted(a, b) - exact Jaccard of two sorted distinct array<long> sets", 2,
      (args: Seq[Expression]) => SortedLongJaccard(args.head, args(1))),
    ("graft_float_dot",
      "graft_float_dot(a, b) - dot product of two array<float> vectors (double accumulator)", 2,
      (args: Seq[Expression]) => FloatVectorDot(args.head, args(1))),
    ("graft_lsh_bucket",
      "graft_lsh_bucket(vec, planes, table) - sign-LSH bucket id of an array<float> vector", 3,
      (args: Seq[Expression]) => SignLshBucket(args.head,
        intArg(args(1), "planes"), intArg(args(2), "table"))),
    // Text-analysis kernels: these are COMPOSITE Column expressions
    // (built-ins + custom kernels), surfaced to SQL by round-tripping
    // the analyzed arg through the Column bridge — same math as the
    // Column API by construction, no second implementation.
    ("graft_token_count",
      "graft_token_count(text) - whitespace token count (BIGINT)", 1,
      (args: Seq[Expression]) => viaColumn(args.head, TextFunctions.tokenCount)),
    ("graft_quality_score",
      "graft_quality_score(text) - composite [0,1] quality score " +
        "(length/punctuation/stopword/script components)", 1,
      (args: Seq[Expression]) => viaColumn(args.head, TextFunctions.qualityScore)),
    ("graft_lang_id",
      "graft_lang_id(text) - n-gram/stopword-heuristic language id", 1,
      (args: Seq[Expression]) => viaColumn(args.head, TextFunctions.langId)),
    ("graft_fingerprint64_portable",
      "graft_fingerprint64_portable(text) - order-sensitive 64-bit document " +
        "fingerprint over the token stream (portable hash chain, " +
        "recomputable in external SQL engines)", 1,
      (args: Seq[Expression]) => viaColumn(args.head, TextFunctions.fingerprintPortable64)))

  /** Builders wrapped with a declared-arity gate: wrong argument
    * counts fail analysis with a message naming the function and its
    * usage, instead of extra args being silently ignored or zero args
    * surfacing as a bare NoSuchElementException from `args.head`. */
  val registrations: Seq[(String, String, Seq[Expression] => Expression)] =
    rawRegistrations.map { case (name, usage, arity, builder) =>
      (name, usage, (args: Seq[Expression]) => {
        if (args.length != arity)
          throw new IllegalArgumentException(
            s"$name expects exactly $arity argument(s), got ${args.length}; usage: $usage")
        builder(args)
      })
    }

  /** Lift a Column→Column kernel into an Expression builder via the
    * sql-package bridge — EAGER tree conversion, because the registry
    * hands the result straight to the analyzer (a lazy column-node
    * wrapper would reach execution unevaluable). */
  private def viaColumn(arg: Expression,
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.GraftColumnBridge.toExpressionTree(
      f(org.apache.spark.sql.GraftColumnBridge.toColumn(arg)))

  /** Register every `graft_*` function on a live session. Idempotent
    * and quiet on re-registration (Catalog.registerAll runs once per
    * gate query and would otherwise log a replace warning each). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registrations.foreach { case (name, usage, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
      val _ = usage // usage surfaces through the extensions path below
    }
  }
}

/** `SparkSessionExtensions` plug-in: injects every `graft_*` function
  * and the engine's custom planner strategy at session build time
  * (`spark.sql.extensions=graft.functions.GraftExtensions`). The only
  * custom strategy is top-k-per-key ([[graft.plans.TopKStrategy]]) —
  * everything else is expressions + built-in planning (SURVEY.md §4). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.registrations.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.SketchExpressions", null, name, usage, ""),
        builder))
    }
    GraftTableFunctions.injectInto(ext)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // key-only filters commute with top-k-per-key; injected into the
    // operator-optimization batch so the builtin PushDownPredicates
    // keeps cascading the moved filter (through joins, into scans)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughTopK)
  }
}
