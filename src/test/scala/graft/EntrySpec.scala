package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's own smoke contract: entry() returns rows, every
  * registered query has a callable function, and every oracle key has
  * a matching query. */
class EntrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("entry returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a registered query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every query has an oracle — no rows-only cells remain") {
    // The driver records a weaker rows-only check for oracle-less
    // queries. Since round 5 the registry carries ZERO of them: the
    // approximate-by-design operators (q22 sketches, v02/v04 ANN)
    // emit the exact/truth side plus boolean bounded-error or recall
    // certificates, which DuckDB recomputes/affirms — so every query
    // is hash-comparable and any future oracle-less entry is a
    // regression, full stop.
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty,
      s"queries silently downgraded to rows-only (add an oracle — the " +
        s"certificate pattern covers approximate ops too): $unoracled")
  }

  test("resetMemos drops the s19 pipeline run: the next run lands a fresh warehouse") {
    val s19 = SparkEntry.queries("s19_stream_sink")
    val first = s19(spark, "/root/testdata/sf0.001")
    SparkEntry.resetMemos()
    val second = s19(spark, "/root/testdata/sf0.001")
    assert(first.inputFiles.nonEmpty && second.inputFiles.nonEmpty)
    assert(first.inputFiles.toSet.intersect(second.inputFiles.toSet).isEmpty,
      "s19 served its memoized warehouse after resetMemos")
  }

  test("query names are stable and well-formed") {
    assert(SparkEntry.queries.keys.forall(_.matches("[a-z][a-z0-9_]+")))
    assert(SparkEntry.queries.size >= 70)
  }
}
