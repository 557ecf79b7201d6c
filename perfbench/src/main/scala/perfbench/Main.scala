package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line entry of the benchmark. Usage:
  *
  * {{{
  * java -cp <classpath> perfbench.Main --workload <name> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> [--size full|tiny]
  * }}}
  *
  * Every workload runs in rounds: a timed set-up that builds the
  * round's inputs and tables, a fixed closed-loop sequence of timed
  * operations from one client, and an untimed correctness check. The
  * first round is the cold round, which warms the JVM up and is not
  * checked; measured rounds follow until `--seconds` have passed (at
  * least one), and every measured round does the same work, so medians
  * compare like with like.
  * The last stdout line is the result JSON. */
object Main {

  def main(args: Array[String]): Unit = {
    val realOut = System.out
    // Spark's console output goes to stderr; stdout carries only the result.
    System.setOut(new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.err), true))
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "20").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", sys.error("--work is required"))).getAbsolutePath
    val tiny = opts.getOrElse("size", "full") == "tiny"
    val wl = Workloads.byName.getOrElse(workload,
      sys.error(s"unknown workload '$workload' (known: ${Workloads.byName.keys.mkString(", ")})"))

    val started = System.nanoTime()
    def elapsed = f"${(System.nanoTime() - started) / 1e9}%.1f s"
    val spark = Session.build(work, trace)
    System.err.println(s"perfbench: session ready after $elapsed")
    val ctx = new Ctx(spark, work, if (trace) Some(new Tracer(spark)) else None)
    if (trace) FsLog.driverThread = Thread.currentThread()
    val rec = new Recorder
    // The cold round first: class loading, codegen and
    // the JIT of the data paths are paid before the medians are taken.
    // Its operation time is the traced run's `traced.cold_s`; an
    // operation that throws in it counts as failed.
    val coldRec = new Recorder
    wl.round(ctx, seed * 1000 + 999, tiny, coldRec, cold = true)
    rec.attempted += coldRec.attempted
    rec.failed += coldRec.failed
    rec.count("cold_s", coldRec.samples.getOrElse("op_ms", Nil).sum / 1000)
    ctx.tracer.foreach(_.reset())
    System.err.println(s"perfbench: cold round done after $elapsed")
    coldRec.logSince(Map.empty)
    val cpu0 = HostCpu.ticks()
    val t0 = System.nanoTime()
    var round = 0
    while (round < 1 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val seen = rec.samples.map { case (k, v) => k -> v.size }
      wl.round(ctx, seed * 1000 + round, tiny, rec, cold = false)
      round += 1
      System.err.println(f"perfbench: round $round done after $elapsed, op_ms_p50 ${rec.pct("op_ms", 0.5)}%.1f so far")
      rec.logSince(seen)
    }
    rec.count("steal_pct", HostCpu.stealPct(cpu0, HostCpu.ticks()))
    System.err.println(f"perfbench: ${rec.counters("steal_pct")}%.1f%% of host CPU time was stolen during the rounds")
    val metrics =
      if (trace) Layers.report(ctx, rec, ctx.tracer.get.report())
      else rec.endToEnd()
    spark.stop()
    val json = metrics.toSeq.sortBy(_._1).map { case (k, (v, unit)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$unit"}"""
    }.mkString("{", ", ", "}")
    realOut.println(s"""{"correct": ${rec.failed == 0}, "attempted": ${rec.attempted}, "failed": ${rec.failed}, "metrics": $json}""")
    realOut.flush()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
}

/** The session shape of `graft.Bench` (shuffle width equal to the task
  * thread count, AQE on, the full extension stack) on half the cores.
  * The other half stay free for the driver, JIT and GC threads, so a
  * core the host takes away stalls no task. */
object Session {
  def build(work: String, trace: Boolean): SparkSession = {
    val cpus = (Runtime.getRuntime.availableProcessors() / 2 max 1).toString
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[TracingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (trace) {
      // The file-system cache is keyed by scheme, so an instance made
      // before the session's conf applied would hide every call.
      val conf = spark.sessionState.newHadoopConf()
      if (!FileSystem.get(new java.net.URI("file:///"), conf).isInstanceOf[TracingLocalFileSystem]) {
        FileSystem.closeAll()
        require(FileSystem.get(new java.net.URI("file:///"), conf).isInstanceOf[TracingLocalFileSystem],
          "traced run could not register its file system")
      }
    }
    spark
  }
}

object Ctx {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = os.getProcessCpuTime
}

final class Ctx(val spark: SparkSession, val work: String, val tracer: Option[Tracer]) {
  private var dirs = 0

  /** A new empty directory for one round. */
  def freshDir(prefix: String): String = {
    dirs += 1
    val d = s"$work/$prefix-$dirs"
    val fs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    fs.delete(new Path(d), true)
    d
  }

  /** Run `body`, returning its wall time in ms; a span when traced. */
  def timed[T](layer: String, kind: String = "")(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = tracer match {
      case Some(t) => t.span(layer, kind)(body)
      case None => body
    }
    (out, (System.nanoTime() - t0) / 1e6)
  }

  def span[T](layer: String, kind: String = "")(body: => T): T = timed(layer, kind)(body)._1

  /** Run one unit operation of the workload: its wall time and the
    * process CPU time it used (every JVM thread) become `op_ms` and
    * `op_cpu_ms` samples. CPU time leaves out time the host stole. */
  def op[T](rec: Recorder, layer: String)(body: => T): (T, Double) = {
    val cpu0 = Ctx.processCpuNs()
    val (out, ms) = timed(layer, "op")(body)
    rec.add("op_ms", ms)
    rec.add("op_cpu_ms", (Ctx.processCpuNs() - cpu0) / 1e6)
    (out, ms)
  }

  def bytesUnder(dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
}

/** Samples and counters of one run. */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  var attempted = 0L
  var failed = 0L

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def count(name: String, v: Double): Unit = counters(name) += v

  /** Record one operation's outcome; a throw counts as failed. */
  def attempt[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"perfbench: operation failed: $e")
        None
    }
  }

  /** A failed correctness check marks `ops` operations as wrong. */
  def check(what: String, ok: Boolean, ops: Long): Unit =
    if (!ok) {
      failed += ops
      System.err.println(s"perfbench: correctness check failed: $what")
    }

  /** Logs every sample taken after the `seen` counts, by name. */
  def logSince(seen: collection.Map[String, Int]): Unit =
    samples.foreach { case (k, v) =>
      System.err.println(s"perfbench:   $k: " + v.drop(seen.getOrElse(k, 0)).map(x => f"$x%.3f").mkString(" "))
    }

  def pct(name: String, p: Double): Double = Stats.pct(samples.getOrElse(name, Nil).toSeq, p)

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
    finally src.close()
  }

  def endToEnd(): Map[String, (Double, String)] = Map(
    "setup_s" -> (pct("setup_s", 0.5), "s"),
    "op_ms_p50" -> (pct("op_ms", 0.5), "ms"),
    "read_ms_p50" -> (pct("read_ms", 0.5), "ms"),
    "rows_per_s" -> (counters("rows") / (counters("rows_s") max 1e-9), "1/s"))

  def writeAmp: Double = counters("bytes_published") / (counters("bytes_changed") max 1.0)
}

/** Host CPU time stolen by the hypervisor (the `steal` column of
  * `/proc/stat`). A shared host that slows every timing at once shows
  * here, so a run can be told apart from a program change. Reads 0
  * where `/proc/stat` is absent. */
object HostCpu {
  /** (steal, total) ticks since boot. */
  def ticks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val xs = src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
        (xs(7), xs.sum)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def stealPct(from: (Long, Long), to: (Long, Long)): Double = {
    val total = to._2 - from._2
    if (total <= 0) 0.0 else 100.0 * (to._1 - from._1) / total
  }
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
}

/** Order-insensitive fingerprint of a frame: row count plus the sum of
  * a 64-bit hash of every row. */
object Fingerprint {
  import org.apache.spark.sql.functions._
  def of(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(cols.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1))
  }
}
