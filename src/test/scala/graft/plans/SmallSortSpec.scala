package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.jobsOf

/** The [[SmallSort]] AQE rule: a small `groupBy.agg.orderBy` sorts in
  * one task (no range-sampling job, no range exchange) with the same
  * rows, order and written file count as the range-partitioned plan;
  * large inputs, sorts under a limit and AQE-off plans keep Spark's own
  * planning. */
class SmallSortSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val excluded = "spark.sql.adaptive.optimizer.excludedRules" -> SmallSort.ruleName

  /** Run `f` with `kvs` set, then restore every key and check that the
    * session conf reads exactly as before. */
  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val before = spark.conf.getAll
    val prev = kvs.map { case (k, _) => k -> before.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      assert(spark.conf.getAll === before)
    }
  }

  /** A few hundred bytes after the aggregate: well under one partition. */
  private def smallAgg(): DataFrame =
    spark.range(0, 5000, 1, 4).select((col("id") % 13).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy(col("k").desc)

  /** Rows, jobs and the final (post-AQE) plan text of one collect. */
  private def run(df: DataFrame): (Seq[String], Int, String) = {
    val (rows, jobs) = jobsOf(df.collect().map(_.toString).toSeq)
    (rows, jobs, df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head)
  }

  test("a small groupBy.agg.orderBy runs 2 jobs and plans no range exchange") {
    val (rows, jobs, plan) = run(smallAgg())
    assert(rows.length === 13)
    assert(jobs === 2, plan)
    assert(!plan.contains("rangepartitioning"), plan)
    assert(plan.contains("Coalesce 1"), plan)
    val (_, jobsOff, planOff) = withConf(excluded)(run(smallAgg()))
    assert(jobsOff > jobs, planOff)
    assert(planOff.contains("rangepartitioning"), planOff)
  }

  test("rows, in order, equal the run with the rule excluded") {
    val (rows, _, _) = run(smallAgg())
    val (rowsOff, _, _) = withConf(excluded)(run(smallAgg()))
    assert(rows === rowsOff)
    assert(rows.head.startsWith("[12,"))
  }

  test("above the one-partition size the range exchange is kept") {
    val (_, _, plan) = withConf(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")(run(smallAgg()))
    assert(plan.contains("rangepartitioning"), plan)
    // without parallelismFirst the advisory size decides
    val (_, _, advisory) = withConf(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")(run(smallAgg()))
    assert(!advisory.contains("rangepartitioning"), advisory)
    val (_, _, tinyAdvisory) = withConf(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1b")(run(smallAgg()))
    assert(tinyAdvisory.contains("rangepartitioning"), tinyAdvisory)
  }

  test("a small orderBy(k).write.parquet writes the same files with and without the rule") {
    def files(dir: java.nio.file.Path): (Seq[String], Int) = {
      val (_, jobs) = jobsOf(smallAgg().write.parquet(dir.toString))
      (dir.toFile.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq, jobs)
    }
    val base = Files.createTempDirectory("small_sort_write")
    val (on, jobsOn) = files(base.resolve("on"))
    val (off, jobsOff) = withConf(excluded)(files(base.resolve("off")))
    assert(on.length === off.length && on.nonEmpty, s"$on vs $off")
    assert(jobsOn < jobsOff, "the rule did not reach the write's sort")
    val read = spark.read.parquet(base.resolve("on").toString).collect().map(_.toString).toSeq
    assert(read === run(smallAgg())._1)
  }

  test("a sort under a limit and a plan with AQE off are left alone") {
    val top = () => smallAgg().limit(3)
    val (rows, _, plan) = run(top())
    assert(!plan.contains("Coalesce 1"), plan)
    assert(rows === withConf(excluded)(run(top()))._1)
    val (rowsOff, _, planOff) =
      withConf("spark.sql.adaptive.enabled" -> "false")(run(smallAgg()))
    assert(!planOff.contains("AdaptiveSparkPlan"), planOff)
    assert(planOff.contains("rangepartitioning"), planOff)
    assert(rowsOff === run(smallAgg())._1)
  }
}
