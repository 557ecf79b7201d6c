package graft.core

import org.apache.spark.sql.SparkSession

/** The one session shape every harness runs: Bench, Verify, Profile and
  * the test suites build through [[builder]] and add only deployment
  * settings (app name, scheduler mode, warehouse dir), so the numbers
  * and plans each reports come from the session the gate runs. */
object GraftSession {

  /** Every conf key [[builder]] sets, for `cpus` concurrent tasks. */
  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // the engine's full extension stack (graft_* functions + TVFs,
    // TopK strategy, key-filter-through-top-k optimizer rule) — the
    // optimizer rule needs the extensions path to interleave with the
    // builtin pushdown batch
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    // Cached plans keep their exact output partitioning unless this is
    // on; without it every CacheScope-sealed result pins the full
    // pre-coalesce shuffle width onto all downstream consumers.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // A long-lived session on a generously-heaped JVM garbage-collects
    // rarely, and the ContextCleaner (weak-reference driven) then never
    // reclaims accumulated broadcast/shuffle state — measured: the END
    // of each bench pass degraded 2× (w01 14.6→25.3 s) once the heap
    // stopped forcing GCs. One periodic GC per minute keeps the cleaner
    // live; paired with -XX:+ExplicitGCInvokesConcurrent (build.sbt) so
    // the call is a concurrent cycle, not a stop-the-world pause.
    "spark.cleaner.periodicGC.interval" -> "1min")

  /** A `local[cpus]` builder carrying [[conf]]. */
  def builder(cpus: Int): SparkSession.Builder =
    conf(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }
}
