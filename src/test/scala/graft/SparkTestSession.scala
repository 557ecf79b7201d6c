package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites share it;
  * Test / fork := true gives the JVM the required add-opens). Built
  * through [[graft.core.GraftSession]], so the suites plan with the
  * conf the gate runs; only the deployment settings below are added. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder(4)
      .appName("graft-tests")
      // FAIR job scheduling: suites share this session and run
      // CONCURRENTLY, and under the default FIFO a tiny job (e.g. the
      // racing-committers' snapshot write) queues behind every heavy
      // job submitted before it — measured starving past 900 s in a
      // full parallel run, failing a liveness deadline that no real
      // contention should reach. FAIR gives each concurrent job a
      // share of the 4 cores; results are value-deterministic either
      // way, scheduling order never decides an assertion.
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
