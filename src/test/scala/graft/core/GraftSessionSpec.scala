package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{Profile, SparkTestSession}

/** The suites run the harness session: every key [[GraftSession]] sets
  * reaches the shared test session with the same value, and the
  * profiling loop runs on that session without stopping it. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("the test session carries every GraftSession setting") {
    assert(spark.sparkContext.master == "local[4]")
    val mismatched = GraftSession.conf(4).filter { case (k, v) =>
      spark.conf.getOption(k) != Some(v)
    }
    assert(mismatched.isEmpty, s"test session differs from GraftSession on: $mismatched")
  }

  test("Profile.run counts jobs and writes the executed-codegen plan on a shared session") {
    val dir = Files.createTempDirectory("graft_profile")
    val timings = Profile.run(spark, "/root/testdata/sf0.001", Seq("q01_pricing_summary"),
      rounds = 1, describe = false, plans = Some((dir, "t")))
    assert(timings.map(_.name) == Seq("q01_pricing_summary"))
    assert(timings.head.jobs > 0 && timings.head.rows > 0, timings)
    assert(!spark.sparkContext.isStopped)
    val plan = new String(Files.readAllBytes(dir.resolve("q01_pricing_summary_t.txt")), "UTF-8")
    assert(plan.contains("== Executed: WholeStageCodegen subtrees =="))
    assert(plan.contains("WholeStageCodegen subtrees.") && !plan.contains("<exec failed"), plan)
  }
}
