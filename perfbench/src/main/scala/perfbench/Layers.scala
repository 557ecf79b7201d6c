package perfbench

import scala.jdk.CollectionConverters._

/** The traced run's per-layer metrics. Every workload prints every
  * metric; a layer the workload does not enter reads 0. Times are ms
  * per call of the layer, Spark runtime figures are per operation span
  * (`op.*`: the workload's unit operation, `read.*`: the dashboard read
  * that follows a write), and `self.*` splits the traced wall time of
  * every span into the time no child span covers, per operation. */
object Layers {

  private val runtime = Seq("jobs", "tasks", "task_ms", "cpu_ms", "gc_ms", "driver_ms",
    "shuffle_bytes", "input_bytes", "spill_bytes", "analysis_ms", "optimize_ms", "plan_ms")

  private val selfLayers = Seq(
    "setup" -> Set("setup"),
    "ingest" -> Set("ingest.discover", "ingest.validate"),
    "pipeline" -> Set("pipeline"),
    "stage" -> Set("stage"),
    "commit" -> Set("commit"),
    "archive" -> Set("archive"),
    "read" -> Set("read"),
    "wh_resolve" -> Set("wh.resolve"),
    "sql_resolve" -> Set("sql.resolve"),
    "query" -> Set("query.agg", "query.lookup", "query.time_travel", "query.sql", "query.sql_time_travel"),
    "dml" -> Set("dml.delete", "dml.update", "dml.merge"),
    "operator" -> (OperatorSuite.rows.map { case (id, _) => s"row.$id" }.toSet + "suite.pass"))

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] = Seq(
    "ingest.discover_ms" -> "ms", "ingest.validate_ms" -> "ms", "ingest.files" -> "count",
    "stage.write_ms" -> "ms", "stage.cpu_ms" -> "ms", "stage.bytes_out" -> "bytes",
    "commit.ms" -> "ms", "commit.shuffle_bytes" -> "bytes", "commit.bytes_out" -> "bytes",
    "commit.rows_out_per_row_in" -> "ratio",
    "archive.ms" -> "ms", "archive.fs_ops" -> "count",
    "wh.resolve_ms" -> "ms", "wh.files_scanned" -> "count", "lookup.files_scanned" -> "count",
    "sql.resolve_ms" -> "ms", "sql.plan_ms" -> "ms",
    "dml.delete_ms" -> "ms", "dml.update_ms" -> "ms", "dml.merge_ms" -> "ms",
    "dml.files_rewritten" -> "count", "dml.bytes_published" -> "bytes",
    "manifest.live_files" -> "count", "wh.write_amp" -> "ratio", "wh.space_amp" -> "ratio") ++
    OperatorSuite.rows.flatMap { case (id, _) => Seq(s"op.${id}_ms" -> "ms", s"op.${id}_jobs" -> "count") } ++
    Seq("op", "read").flatMap(k => runtime.map(m => s"$k.$m" -> unitOf(m))) ++
    selfLayers.map { case (l, _) => s"self.${l}_ms" -> "ms" } ++
    Seq("trace.wall_ms" -> "ms", "trace.self_sum_ms" -> "ms",
      "traced.op_ms_p50" -> "ms", "traced.op_cpu_ms_p50" -> "ms", "traced.read_ms_p50" -> "ms",
      "traced.cold_s" -> "s", "jvm.peak_rss_mb" -> "MB",
      "host.steal_pct" -> "%")

  private def unitOf(m: String): String =
    if (m.endsWith("_ms")) "ms" else if (m.endsWith("_bytes")) "bytes" else "count"

  def report(ctx: Ctx, rec: Recorder, raw: TraceReport): Map[String, (Double, String)] = {
    val tr = withIngestAndArchive(ctx, raw)
    def spansOf(layers: Set[String]) = tr.spans.filter(s => layers(s.layer))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def meanWall(layer: String) = mean(spansOf(Set(layer)).map(tr.wallMs))
    val batches = spansOf(Set("pipeline")).size.max(1).toDouble
    val stage = spansOf(Set("stage")).map(tr.subtree)
    val commit = spansOf(Set("commit")).map(tr.subtree)
    val nOps = topLevel(tr, "op").size.max(1).toDouble
    val reads = spansOf(Set("query.agg", "read")).map(tr.subtree)
    val lookups = spansOf(Set("query.lookup")).map(tr.subtree)
    val sqls = spansOf(Set("query.sql", "query.sql_time_travel")).map(tr.subtree)
    val dmlOps = spansOf(Set("dml.delete", "dml.update", "dml.merge")).size
    def perDmlOp(total: Double) = if (dmlOps == 0) 0.0 else total / dmlOps

    def runtimeOf(kind: String): Seq[(String, Double)] = {
      val ss = topLevel(tr, kind)
      val n = ss.size.max(1).toDouble
      val st = ss.map(tr.subtree)
      def sum(f: SpanStats => Double) = st.map(f).sum / n
      Seq(
        "jobs" -> sum(_.jobs), "tasks" -> sum(_.tasks), "task_ms" -> sum(_.taskMs.toDouble),
        "cpu_ms" -> sum(_.cpuNs / 1e6), "gc_ms" -> sum(_.gcMs.toDouble),
        "driver_ms" -> ss.map(s => tr.driverMs(s, tr.subtree(s))).sum / n,
        "shuffle_bytes" -> sum(_.shuffleBytes.toDouble), "input_bytes" -> sum(_.inputBytes.toDouble),
        "spill_bytes" -> sum(_.spillBytes.toDouble), "analysis_ms" -> sum(_.analysisMs.toDouble),
        "optimize_ms" -> sum(_.optimizeMs.toDouble), "plan_ms" -> sum(_.planMs.toDouble))
        .map { case (m, v) => s"$kind.$m" -> v }
    }

    val stageRows = stage.map(_.outputRecords).sum.toDouble
    val values: Map[String, Double] = Map(
      "ingest.discover_ms" -> meanWall("ingest.discover"),
      "ingest.validate_ms" -> meanWall("ingest.validate"),
      "ingest.files" -> rec.counters("ingest_files") / batches,
      "stage.write_ms" -> spansOf(Set("stage")).map(tr.wallMs).sum / batches,
      "stage.cpu_ms" -> stage.map(_.cpuNs / 1e6).sum / batches,
      "stage.bytes_out" -> stage.map(_.outputBytes.toDouble).sum / batches,
      "commit.ms" -> spansOf(Set("commit")).map(tr.wallMs).sum / batches,
      "commit.shuffle_bytes" -> commit.map(_.shuffleBytes.toDouble).sum / batches,
      "commit.bytes_out" -> commit.map(_.outputBytes.toDouble).sum / batches,
      "commit.rows_out_per_row_in" ->
        (if (stageRows > 0) commit.map(_.outputRecords).sum / stageRows else 0.0),
      "archive.ms" -> spansOf(Set("archive")).map(tr.wallMs).sum / batches,
      "archive.fs_ops" -> archiveOps(tr) / batches,
      "wh.resolve_ms" -> meanWall("wh.resolve"),
      "wh.files_scanned" -> mean(reads.map(_.filesScanned.toDouble)),
      "lookup.files_scanned" -> mean(lookups.map(_.filesScanned.toDouble)),
      "sql.resolve_ms" -> meanWall("sql.resolve"),
      "sql.plan_ms" -> mean(sqls.map(s => (s.optimizeMs + s.planMs).toDouble)),
      "dml.delete_ms" -> meanWall("dml.delete"),
      "dml.update_ms" -> meanWall("dml.update"),
      "dml.merge_ms" -> meanWall("dml.merge"),
      "dml.files_rewritten" -> perDmlOp(rec.counters("files_rewritten")),
      "dml.bytes_published" -> perDmlOp(rec.counters("bytes_published")),
      "manifest.live_files" -> rec.samples.get("live_files").flatMap(_.lastOption).getOrElse(0.0),
      "wh.write_amp" -> rec.writeAmp,
      "wh.space_amp" -> rec.pct("space_amp", 0.5),
      "trace.wall_ms" -> tr.roots.map(tr.wallMs).sum / nOps,
      "trace.self_sum_ms" -> tr.spans.map(tr.selfMs).sum / nOps,
      "traced.op_ms_p50" -> rec.pct("op_ms", 0.5),
      "traced.read_ms_p50" -> rec.pct("read_ms", 0.5),
      "traced.op_cpu_ms_p50" -> rec.pct("op_cpu_ms", 0.5),
      "traced.cold_s" -> rec.counters("cold_s"),
      "jvm.peak_rss_mb" -> rec.peakRssMb,
      "host.steal_pct" -> rec.counters("steal_pct")) ++
      runtimeOf("op") ++ runtimeOf("read") ++
      OperatorSuite.rows.flatMap { case (id, _) =>
        Seq(s"op.${id}_ms" -> meanWall(s"row.$id"),
          s"op.${id}_jobs" -> mean(spansOf(Set(s"row.$id")).map(s => tr.subtree(s).jobs.toDouble)))
      } ++
      selfLayers.map { case (l, ls) => s"self.${l}_ms" -> spansOf(ls).map(tr.selfMs).sum / nOps }
    names.map { case (n, u) => n -> (values.getOrElse(n, 0.0), u) }.toMap
  }

  /** Spans of `kind` not nested in another span of that kind. */
  private def topLevel(tr: TraceReport, kind: String): Seq[Span] = {
    val kindOf = tr.spans.map(s => s.id -> s.kind).toMap
    tr.spans.filter(s => s.kind == kind && !kindOf.get(s.parent).contains(kind))
  }

  /** Ingest is the head of `runBatch` and archive its tail, both read
    * off the driver's file-system calls. `ingest.discover` runs from the
    * batch's start to the first call on a file in the landing dir (the
    * listing), `ingest.validate` from there to the first later call
    * outside the landing dir or the first stage job (header reads and
    * the CSV read's planning). `archive` runs from the first call into
    * an archive dir to the batch's end. All three become child spans of
    * the batch, beside `stage` and `commit`; overlapping siblings are
    * then clipped so that self times add up to the batch's wall time. */
  private def withIngestAndArchive(ctx: Ctx, tr: TraceReport): TraceReport = {
    val t = ctx.tracer.get
    val ops = FsLog.ops.asScala.toSeq
    def under(dirs: Seq[String], p: String) = dirs.exists(d => p == d || p.startsWith(d + "/"))
    var next = tr.spans.size
    def child(b: Span, layer: String, t0: Long, t1: Long): Span = {
      next += 1
      Span(next - 1, b.id, layer, b.kind, t0, t1, b.startMs + (t0 - b.startNs) / 1000000L)
    }
    val extra = tr.spans.filter(_.layer == "pipeline").flatMap { b =>
      val inBatch = ops.filter { case (ts, _) => ts >= b.startNs && ts <= b.endNs }
      val firstJob = tr.spans.filter(_.parent == b.id).map(_.startNs).minOption.getOrElse(b.endNs)
      val ingest = inBatch.indexWhere { case (_, p) => under(t.landingDirs, p) && !t.landingDirs.contains(p) } match {
        case -1 => Nil
        case i =>
          val t1 = inBatch.drop(i).collectFirst { case (ts, p) if !under(t.landingDirs, p) => ts }
            .getOrElse(b.endNs) min firstJob
          Seq(child(b, "ingest.discover", b.startNs, inBatch(i)._1), child(b, "ingest.validate", inBatch(i)._1, t1))
      }
      ingest ++ inBatch.collectFirst { case (ts, p) if under(t.archiveDirs, p) => child(b, "archive", ts, b.endNs) }
    }
    TraceReport(clipSiblings(tr.spans ++ extra), tr.stats)
  }

  /** Children of one span that overlap are cut back so that each starts
    * where the previous one ended, within the parent's bounds. */
  private def clipSiblings(spans: Seq[Span]): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.groupBy(_.parent).foreach { case (pid, kids) =>
      val (lo, hi) = byId.get(pid).map(p => (p.startNs, p.endNs)).getOrElse((Long.MinValue, Long.MaxValue))
      var prevEnd = lo
      kids.sortBy(_.startNs).foreach { k =>
        val s0 = k.startNs
        k.startNs = math.min(math.max(k.startNs, prevEnd), hi)
        k.endNs = math.max(math.min(k.endNs, hi), k.startNs)
        k.startMs += (k.startNs - s0) / 1000000L
        prevEnd = k.endNs
      }
    }
    spans
  }

  private def archiveOps(tr: TraceReport): Double =
    tr.spans.filter(_.layer == "archive").map { a =>
      FsLog.ops.asScala.count { case (t, _) => t >= a.startNs && t <= a.endNs }.toDouble
    }.sum
}
