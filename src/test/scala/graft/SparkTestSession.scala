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

  /** `f`'s result and the Spark jobs it started, counted by a local
    * property only this call sets: suites share one session and may run
    * concurrently, so a session-wide count would include theirs. A
    * marker job after `f` drains the (ordered) listener bus. */
  def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(key)).orNull match {
          case `tag` => seen.incrementAndGet()
          case t if t == s"$tag-marker" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = try f finally sc.setLocalProperty(key, s"$tag-marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
      assert(drained.await(120, java.util.concurrent.TimeUnit.SECONDS))
      (out, seen.get())
    } finally sc.removeSparkListener(listener)
  }
}
