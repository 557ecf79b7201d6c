package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region opened by the benchmark around a call into the
  * program. `layer` names the module the call enters; `kind` groups
  * spans for the per-operation Spark runtime metrics (`op`, `read`). */
final case class Span(id: Int, parent: Int, layer: String, kind: String,
    var startNs: Long, var endNs: Long = -1L, var startMs: Long = System.currentTimeMillis())

/** Spark-side facts gathered by the listeners, keyed by span. */
final class SpanStats {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var spillBytes = 0L
  var analysisMs = 0L
  var optimizeMs = 0L
  var planMs = 0L
  var filesScanned = 0L
  /** Task run intervals in epoch ms, for the no-task-running share. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** In-memory span recorder plus the listeners that attribute Spark work
  * to spans. Nothing inside the program is instrumented: jobs carry the
  * open span's id as a local property, SQL executions are tied to spans
  * through their jobs, and file-system calls are seen through a
  * `LocalFileSystem` subclass registered with `fs.file.impl`.
  *
  * Jobs inside `CocoaPipeline.runBatch` are split by the path their SQL
  * execution writes (`pathLayers`): the staging dir is `stage`, the
  * warehouse root is `commit`. */
final class Tracer(spark: SparkSession) {
  private val SpanProp = "perfbench.span"
  /** The output path in a write's formatted plan: its node details read
    * `Execute InsertIntoHadoopFsRelationCommand / Input: [] / Arguments: <path>, ...`. */
  private val WritePath = "(?s)Execute InsertIntoHadoopFsRelationCommand\\s*\\n.*?Arguments: ([^,\\s]+)".r
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  @volatile var pathLayers: Seq[(String, String)] = Nil
  /** Directories `pipeline.Archive` moves files into. */
  var archiveDirs: Seq[String] = Nil
  /** Landing directories `pipeline.Ingest` lists and reads. */
  var landingDirs: Seq[String] = Nil

  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val execLayer = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val jobExec = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobWindow = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val taskEvents = new ConcurrentLinkedQueue[(Int, SparkListenerTaskEnd)]()
  private val queryEvents = new ConcurrentLinkedQueue[QueryExecution]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      span.foreach(s => jobSpan.put(e.jobId, s.toInt))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => jobExec.put(e.jobId, x.toLong))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobWindow.put(e.jobId, (e.time, Long.MaxValue))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobWindow.computeIfPresent(e.jobId, (_, w) => (w._1, e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach(j => taskEvents.add((j.intValue, e)))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val out = WritePath.findFirstMatchIn(s.physicalPlanDescription).map(_.group(1))
        val layer = out.flatMap(o => pathLayers.collectFirst { case (path, l) if o.contains(path) => l })
        layer.foreach(l => execLayer.put(s.executionId, l))
      case _ =>
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      queryEvents.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      queryEvents.add(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  /** Run `body` inside a span; nested calls become child spans. */
  def span[T](layer: String, kind: String = "")(body: => T): T = {
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, parent, layer, kind, System.nanoTime())
    spans += s
    open = s :: open
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  /** Forget everything recorded so far (the cold round). */
  def reset(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spans.clear(); open = Nil
    jobSpan.clear(); stageJob.clear(); execLayer.clear(); jobExec.clear(); jobWindow.clear()
    taskEvents.clear(); queryEvents.clear(); FsLog.ops.clear()
  }

  /** Everything recorded, resolved once the listener bus is drained. */
  def report(): TraceReport = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val stats = mutable.Map.empty[Int, SpanStats]
    def of(id: Int) = stats.getOrElseUpdate(id, new SpanStats)
    // A job writing a classified path becomes a synthetic child span
    // of the span it ran in, covering first job start to last job end.
    // Job times are on the ms clock; they are mapped onto the parent's
    // ns clock through the parent's start.
    val layerOfJob: Int => Option[String] = j =>
      Option(jobExec.get(j)).flatMap(x => Option(execLayer.get(x.longValue)))
    val all = spans.clone()
    val synth = mutable.Map.empty[(Int, String), Span]
    def owner(job: Int): Option[Int] = Option(jobSpan.get(job)).map(_.intValue).map { sid =>
      layerOfJob(job) match {
        case Some(l) =>
          val (t0, t1) = jobWindow.get(job)
          val base = spans(sid)
          val sp = synth.getOrElseUpdate((sid, l), {
            val n = Span(all.size, sid, l, base.kind, Long.MaxValue, Long.MinValue, Long.MaxValue)
            all += n
            n
          })
          sp.startMs = math.min(sp.startMs, t0)
          sp.startNs = math.min(sp.startNs, base.startNs + (t0 - base.startMs) * 1000000L)
          sp.endNs = math.max(sp.endNs, base.startNs + (t1 - base.startMs) * 1000000L)
          sp.id
        case None => sid
      }
    }
    val jobOwner = jobWindow.keySet.asScala.toSeq.flatMap(j => owner(j).map(j -> _)).toMap
    jobOwner.values.foreach(s => of(s).jobs += 1)
    taskEvents.asScala.foreach { case (job, e) =>
      jobOwner.get(job).foreach { sid =>
        val st = of(sid)
        st.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          st.taskMs += m.executorRunTime
          st.cpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          st.inputBytes += m.inputMetrics.bytesRead
          st.outputBytes += m.outputMetrics.bytesWritten
          st.outputRecords += m.outputMetrics.recordsWritten
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        st.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
    // A query execution belongs to the innermost benchmark span open
    // when it was planned (planning runs on the benchmark's thread).
    def innermostAt(tMs: Long): Option[Int] = spans.filter { sp =>
      sp.startMs <= tMs && tMs <= sp.startMs + (sp.endNs - sp.startNs) / 1000000L
    }.sortBy(_.startNs).lastOption.map(_.id)
    queryEvents.asScala.foreach { qe =>
      val ph = qe.tracker.phases
      ph.get("planning").flatMap(p => innermostAt(p.startTimeMs)).foreach { sid =>
        val st = of(sid)
        st.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
        st.optimizeMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
        st.planMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
        st.filesScanned += Plans.filesRead(qe)
      }
    }
    TraceReport(all.toSeq, stats.toMap)
  }
}

final case class TraceReport(spans: Seq[Span], stats: Map[Int, SpanStats]) {
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  def wallMs(s: Span): Double = (s.endNs - s.startNs) / 1e6

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time minus the part covered by child spans. */
  def selfMs(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
    (s.endNs - s.startNs - covered(kids, s.startNs, s.endNs)) / 1e6
  }

  /** Span wall time during which none of the given tasks ran. */
  def driverMs(s: Span, st: SpanStats): Double = {
    val endMs = s.startMs + math.round(wallMs(s))
    math.max(0.0, wallMs(s) - covered(st.taskIntervals.toSeq, s.startMs, endMs))
  }

  def descendants(s: Span): Seq[Span] =
    children.getOrElse(s.id, Nil).flatMap(c => c +: descendants(c))

  /** Spark stats of a span and every span below it. */
  def subtree(s: Span): SpanStats = {
    val out = new SpanStats
    (s +: descendants(s)).flatMap(x => stats.get(x.id)).foreach { st =>
      out.jobs += st.jobs; out.tasks += st.tasks; out.taskMs += st.taskMs
      out.cpuNs += st.cpuNs; out.gcMs += st.gcMs; out.shuffleBytes += st.shuffleBytes
      out.inputBytes += st.inputBytes; out.outputBytes += st.outputBytes
      out.outputRecords += st.outputRecords; out.spillBytes += st.spillBytes
      out.analysisMs += st.analysisMs; out.optimizeMs += st.optimizeMs
      out.planMs += st.planMs; out.filesScanned += st.filesScanned
      out.taskIntervals ++= st.taskIntervals
    }
    out
  }

  def roots: Seq[Span] = spans.filter(_.parent < 0)
}

/** `LocalFileSystem` that logs every call made on the driver's
  * benchmark thread. Registered only in traced runs, through
  * `spark.hadoop.fs.file.impl`. */
class TracingLocalFileSystem extends LocalFileSystem {
  private def log(p: Path): Unit =
    if (Thread.currentThread() eq FsLog.driverThread) FsLog.ops.add((System.nanoTime(), p.toUri.getPath))

  override def rename(src: Path, dst: Path): Boolean = { log(src); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { log(f); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { log(f); super.mkdirs(f, permission) }
  override def getFileStatus(f: Path): FileStatus = { log(f); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { log(f); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { log(f); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    log(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

/** The traced run's file-system calls: (nanoTime, path). */
object FsLog {
  @volatile var driverThread: Thread = _
  val ops = new ConcurrentLinkedQueue[(Long, String)]()
}

object Plans {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }

  /** Files the query's scans read, from the scans' own SQL metrics. */
  def filesRead(qe: QueryExecution): Long =
    try walk(qe.executedPlan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
    catch { case scala.util.control.NonFatal(_) => 0L }
}
