package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.Bridge

/** Dev profiling main on the harness session ([[graft.core.GraftSession]]):
  * per-query wall time and job count of a collect over N rounds, and —
  * given a plan dir — each query's formatted plan plus its executed
  * WholeStageCodegen subtrees. Not part of the library surface. Usage:
  * `sbt "runMain graft.Profile [--plans <outDir> <suffix>] [query...]"`
  * (no query: the whole registry), writing `<outDir>/<query>_<suffix>.txt`.
  * Env: `SPARK_GRAFT_SF_DIR` (default /root/testdata/sf0.1),
  * `SPARK_GRAFT_CPUS` (32), `SCRATCH_ROUNDS` (2), and `SCRATCH_DESCRIBE`
  * (set: one line per job and per stage of 200 ms or more). */
object Profile {

  final case class Timing(name: String, round: Int, seconds: Double, jobs: Int, rows: Long)

  def main(args: Array[String]): Unit = {
    val (plans, names) = args.toList match {
      case "--plans" :: dir :: suffix :: rest => (Some((Paths.get(dir), suffix)), rest)
      case rest => (None, rest)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val rounds = sys.env.getOrElse("SCRATCH_ROUNDS", "2").toInt
    val spark = graft.core.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // warmup
      spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().collect()
      run(spark, sfDir, names, rounds, sys.env.contains("SCRATCH_DESCRIBE"), plans)
    } finally spark.stop()
  }

  /** Time `names` (empty: every gate and bench-only row) for `rounds`
    * rounds, printing one TIME line per query and round, then write
    * each query's plan file when `plans` is given. Leaves the session
    * running, with the cache cleared after every query. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], rounds: Int,
      describe: Boolean, plans: Option[(Path, String)]): Seq[Timing] = {
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    val todo = if (names.nonEmpty) names else all.keys.toSeq.sorted
    val jobs = new AtomicInteger(0)
    val listener = new JobListener(jobs, describe)
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val timings = for (round <- 1 to rounds; name <- todo) yield {
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        // collect, not count(): a count lets the optimizer drop the
        // row's ORDER BY (and any other order-only work) from the plan
        val rows = all(name)(spark, sfDir).collect().length.toLong
        val dt = (System.nanoTime() - t0) / 1e9
        Bridge.drainListeners(sc)
        val t = Timing(name, round, dt, jobs.get() - j0, rows)
        println(f"TIME ${s"$name r$round"}%-32s $dt%8.2f s  jobs=${t.jobs}%4d  rows=$rows")
        spark.catalog.clearCache()
        t
      }
      plans.foreach { case (dir, suffix) =>
        Files.createDirectories(dir)
        todo.foreach { n =>
          val out = planText(all(n)(spark, sfDir))
          Files.write(dir.resolve(s"${n}_$suffix.txt"), out.getBytes("UTF-8"))
          System.err.println(s"wrote ${n}_$suffix.txt (${out.length} chars)")
          spark.catalog.clearCache()
        }
      }
      timings
    } finally sc.removeSparkListener(listener)
  }

  /** Formatted explain plus the executed WholeStageCodegen subtrees.
    * Formatted explain under AQE shows the INITIAL plan without
    * WholeStageCodegen spans; codegen claims need the EXECUTED plan. A
    * noop write would execute a DIFFERENT QueryExecution (the write
    * command's), leaving df.queryExecution un-executed — so drive df's
    * OWN executed plan via its internal-row RDD (no driver collection,
    * no row conversion), then walk the finalized AQE tree. */
  private def planText(df: org.apache.spark.sql.DataFrame): String = {
    val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val exec = try {
      df.queryExecution.toRdd.foreach(_ => ())
      val subtrees = scala.collection.mutable.ArrayBuffer[WholeStageCodegenExec]()
      def go(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec => go(q.plan)
        case w: WholeStageCodegenExec =>
          subtrees += w; w.children.foreach(go); w.subqueries.foreach(go)
        case o => o.children.foreach(go); o.subqueries.foreach(go)
      }
      go(df.queryExecution.executedPlan)
      s"Found ${subtrees.size} WholeStageCodegen subtrees.\n" +
        subtrees.zipWithIndex.map { case (w, i) =>
          s"== Subtree ${i + 1} ==\n${w.treeString.linesIterator.take(24).mkString("\n")}"
        }.mkString("\n")
    } catch { case e: Throwable => s"<exec failed: ${e.getMessage}>" }
    txt + "\n\n== Executed: WholeStageCodegen subtrees ==\n" + exec + "\n"
  }

  /** Counts every job; with `describe`, prints each job (attributed to
    * its query through the SQL execution id, since broadcast-future
    * jobs carry only the thread pool as callsite) and each stage of
    * 200 ms or more with its first graft frames. */
  private final class JobListener(jobs: AtomicInteger, describe: Boolean) extends SparkListener {
    // executionId → physical-plan description head
    private val sqlDescs = new java.util.concurrent.ConcurrentHashMap[String, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if describe =>
        sqlDescs.put(s.executionId.toString, s.description.linesIterator.take(1).mkString.take(120))
      case s: SparkListenerSQLExecutionEnd =>
        sqlDescs.remove(s.executionId.toString) // bound the map over a long run
      case _ => ()
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (describe) {
        val execId = Option(js.properties)
          .map(_.getProperty("spark.sql.execution.id", "")).getOrElse("")
        val desc = Option(sqlDescs.get(execId)).getOrElse("")
        val stages = js.stageInfos.map(si => s"[${si.stageId}:${si.numTasks}]").mkString(",")
        println(s"  JOB ${js.jobId} exec=$execId tasks=${js.stageInfos.map(_.numTasks).sum} $stages | $desc")
      }
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      if (describe) {
        val si = sc.stageInfo
        val ms = (for { a <- si.completionTime; b <- si.submissionTime } yield a - b).getOrElse(-1L)
        if (ms >= 200) {
          println(f"  STAGE ${si.stageId}%4d ${ms / 1000.0}%6.2f s tasks=${si.numTasks}%4d ${si.name.take(90)}")
          // callsite stack: first graft frames identify the operator
          si.details.linesIterator.filter(_.contains("graft.")).take(3)
            .foreach(l => println(s"        $l"))
        }
      }
  }
}
