package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of the traced cycles: spans grouped by the request
  * (operation) that opened them, job counters summed per span, and each
  * layer's self time (span time not covered by a child span). Every figure
  * is a median over the traced cycles' operations of one kind, so it does
  * not grow with the number of cycles a run completes. */
final case class LayerReport(spans: Seq[Span], tracer: Tracer,
    bench: Workload) {

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private val traced = bench.ops.filter(_.traced).toSeq
  private val reqOps = traced.map(o => o.req -> o).toMap
  private val byReq = spans.groupBy(_.req)
  private val jobs = spans.filter(_.job >= 0)
  private def stats(s: Span) = Option(tracer.jobStats.get(s.job))
  private def dur(s: Span) = (s.endNs - s.startNs) / 1e9

  private def reqs(kind: String) = traced.filter(_.kind == kind).map(_.req)
  private def jobsOf(req: Long, layer: String) =
    byReq.getOrElse(req, Nil).filter(s => s.job >= 0 && s.layer == layer)

  /** median over operations of `kind` of a per-operation figure */
  private def per(kind: String)(f: Long => Double): Double =
    median(reqs(kind).map(f))

  private def jobTime(kind: String, layer: String) =
    per(kind)(r => jobsOf(r, layer).map(dur).sum)
  private def jobSum(kind: String, layer: String)(f: JobStats => Long) =
    per(kind)(r => jobsOf(r, layer).flatMap(stats).map(f).sum.toDouble)

  /** The stage that writes files is the last stage of a write job. */
  private def writeStage(kind: String, layer: String): Seq[Seq[Long]] =
    reqs(kind).map { r =>
      jobsOf(r, layer).flatMap(stats).flatMap { st =>
        val stages = st.stageTaskMs.asScala
        if (stages.isEmpty) None else Some(stages.maxBy(_._1)._2.toSeq)
      }.flatten
    }
  private def writeTasks(kind: String, layer: String) =
    median(writeStage(kind, layer).map(_.size.toDouble))
  private def writeSkew(kind: String, layer: String) =
    median(writeStage(kind, layer).filter(_.nonEmpty).map { ms =>
      val mean = ms.sum.toDouble / ms.size
      if (mean <= 0) 1.0 else ms.max / mean
    })
  private def written(kind: String)(f: Written => Long) =
    median(bench.writes.filter(w => w.kind == kind && reqOps.contains(w.req))
      .map(w => f(w).toDouble).toSeq)

  /** Self time per top-level layer, summed per cycle. */
  private def selfTimes: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    def self(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(i => i._2 > i._1).sortBy(_._1)
      var covered = 0L
      var (a, b) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (x, y) =>
        if (x > b) { if (b > a) covered += b - a; a = x; b = y }
        else b = math.max(b, y)
      }
      if (b > a) covered += b - a
      (s.endNs - s.startNs - covered) / 1e9
    }
    val cycles = traced.map(_.cycle).filter(_ >= 0).distinct
    val perCycle = cycles.map { c =>
      spans.filter(s => reqOps.get(s.req).exists(_.cycle == c))
        .groupBy(_.layer.takeWhile(_ != '.'))
        .map { case (l, ss) => l -> ss.map(self).sum }
    }
    Seq("bench", "pipeline", "ingest", "store", "streaming", "queries")
      .map(l => l -> median(perCycle.map(_.getOrElse(l, 0.0)))).toMap
  }

  private def perCycleJobs(f: JobStats => Double): Double = {
    val cycles = traced.map(_.cycle).filter(_ >= 0).distinct
    median(cycles.map { c =>
      jobs.filter(s => reqOps.get(s.req).exists(_.cycle == c))
        .flatMap(stats).map(f).sum
    })
  }

  def values: Seq[(String, Double, String)] = {
    val panelReqs = traced.filter(o => o.kind == "panel" || o.kind == "fresh_panel")
      .map(_.req).toSet
    val resolve = spans.filter(s => s.job < 0 && panelReqs(s.req) &&
      (s.name == "LongStore.readWindow" || s.name == "LongStore.readCommitted"))
    val panelSpanReq = spans.filter(_.job < 0).map(s => s.id -> s.req).toMap
    val scans = bench.scans.filter(s => panelSpanReq.get(s.span).exists(panelReqs))
    val streamSpans = spans.filter(s => s.job < 0 && s.name == "GasStream.pipeline" &&
      reqOps.contains(s.req)).map(_.id).toSet
    val progress = tracer.progress.synchronized(tracer.progress.toList)
      .filter(p => streamSpans(p.span))
    val tickRaw = traced.filter(_.kind == "tick").map(o => o.req -> o.detail.toDouble).toMap
    // tracing overhead per cycle: for each kind of operation, the traced
    // median minus the median of the untraced cycles before and after it,
    // times the operations of that kind in a traced cycle (the snapshot
    // store is built in the set-up, outside the cycles)
    val overhead = bench.ops.filter(_.cycle >= 0).groupBy(_.kind).values.map { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) 0.0
      else (median(t.map(_.seconds).toSeq) - median(u.map(_.seconds).toSeq)) *
        t.size / t.map(_.cycle).distinct.size
    }.sum
    val self = selfTimes
    def s(n: String, v: Double) = (n, v, "s")
    def count(n: String, v: Double) = (n, v, "count")
    def bytes(n: String, v: Double) = (n, v, "bytes")
    def ratio(n: String, v: Double) = (n, v, "ratio")
    Seq(
      s("backfill.ingest.discover_s", jobTime("backfill", "ingest.discover")),
      ("backfill.ingest.rows_scanned", jobSum("backfill", "ingest.discover")(_.recordsRead), "rows"),
      s("backfill.store.write_s", jobTime("backfill", "store.write")),
      count("backfill.store.write_tasks", writeTasks("backfill", "store.write")),
      ratio("backfill.store.write_task_skew", writeSkew("backfill", "store.write")),
      count("backfill.store.files_written", written("backfill")(_.files)),
      bytes("backfill.store.bytes_written", written("backfill")(_.bytes)),
      s("snapshot.store.write_s", jobTime("snapshot_backfill", "store.write_snapshot")),
      s("tick.ingest.discover_s", jobTime("tick", "ingest.discover")),
      ("tick.ingest.rows_scanned", jobSum("tick", "ingest.discover")(_.recordsRead), "rows"),
      ratio("tick.ingest.new_row_ratio", per("tick") { r =>
        val scanned = jobsOf(r, "ingest.discover").flatMap(stats).map(_.recordsRead).sum
        if (scanned == 0) Double.NaN else tickRaw(r) / scanned
      }),
      s("tick.ingest.ledger_append_s", jobTime("tick", "ingest.ledger_append")),
      s("tick.store.manifest_append_s", jobTime("tick", "store.manifest_append")),
      s("tick.store.write_s", jobTime("tick", "store.write")),
      count("tick.store.write_tasks", writeTasks("tick", "store.write")),
      ratio("tick.store.write_task_skew", writeSkew("tick", "store.write")),
      count("tick.store.files_written", written("tick")(_.files)),
      bytes("tick.store.bytes_written", written("tick")(_.bytes)),
      s("noop.ingest.discover_s", jobTime("noop", "ingest.discover")),
      ("noop.ingest.rows_scanned", jobSum("noop", "ingest.discover")(_.recordsRead), "rows"),
      count("streaming.batches", per("stream")(r => progress.count(p =>
        spans.exists(s => s.id == p.span && s.req == r)).toDouble)),
      s("streaming.batch_s", median(progress.map(_.batchMs / 1e3))),
      ("streaming.processed_rows_per_s", median(progress.map(_.rowsPerS)), "rows/s"),
      s("store.read_resolve_s", median(resolve.map(dur))),
      count("store.read_partitions", median(scans.map(_.partitions.toDouble).toSeq)),
      count("store.read_files", median(scans.map(_.files.toDouble).toSeq)),
      bytes("store.read_bytes", median(scans.map(_.bytes.toDouble).toSeq)),
      ratio("store.read_prune_ratio", {
        val w = scans.map(_.windowPartitions).sum
        if (w == 0) Double.NaN else scans.map(_.partitions).sum.toDouble / w
      })) ++
      Seq("field_range", "day_mean", "window_agg", "wide_table", "snapshot_range").map { k =>
        s(s"queries.panel.${k}_s", median(traced.filter(o => o.kind == "panel" && o.detail == k)
          .map(_.seconds).toSeq))
      } ++ Seq(
      count("spark.tasks", perCycleJobs(_.tasks.toDouble)),
      s("spark.gc_s", perCycleJobs(_.gcMs / 1e3)),
      bytes("spark.shuffle_bytes", perCycleJobs(_.shuffleBytes.toDouble)),
      bytes("spark.spill_bytes", perCycleJobs(_.spillBytes.toDouble)),
      s("host.canary_s", median(bench.canaries.toSeq)),
      s("trace.overhead_s", overhead),
      count("trace.spans", median(traced.map(_.cycle).filter(_ >= 0).distinct
        .map(c => spans.count(s => reqOps.get(s.req).exists(_.cycle == c)).toDouble)))) ++
      self.toSeq.sortBy(_._1).map { case (l, v) => s(s"self.${l}_s", v) }
  }

  /** `{"name": [value, "unit"], ...}` */
  def json: String = Json.obj(values.map { case (k, v, u) =>
    k -> Json.arr(Seq(Json.num(v), Json.str(u))) })
}
