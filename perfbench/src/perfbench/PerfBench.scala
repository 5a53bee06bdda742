package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.GasPipeline
import graft.queries.GasQueries
import graft.store.LongStore
import graft.streaming.GasStream

/** One dashboard request: a panel type over a field and a time window.
  * `readStart`/`readStop` are the store days the panel asks the store for:
  * the window's days plus the day before, whose 86400 s boundary sample is
  * stamped at the window's first midnight. */
final case class Panel(kind: String, field: String, start: String,
    stop: String, readStart: String, readStop: String)

final case class TickFile(name: String, day: String, rawRows: Long)

/** File-scan metrics of one panel's executed plan, with the number of store
  * partitions in the days the panel asked for. */
final case class Scan(span: Long, files: Long, bytes: Long, partitions: Long,
    windowPartitions: Long)

/** Data files one write operation added to its store. */
final case class Written(req: Long, kind: String, files: Long, bytes: Long)

/** The run description written by `run.py`: tab-separated `key value...`
  * lines. */
final case class Spec(lines: Seq[Array[String]]) {
  private def one(k: String): String =
    lines.find(_(0) == k).map(_(1)).getOrElse(sys.error(s"spec: no $k"))
  val seconds: Double = one("seconds").toDouble
  val trace: Boolean = one("trace") == "1"
  val cpus: String = one("cpus")
  val work: String = one("work")
  val baseDir: String = one("base")
  val tickDir: String = one("ticks")
  val backfills: Int = one("backfills").toInt
  val minRounds: Int = one("min_rounds").toInt
  val basePoints: Long = one("base_points").toLong
  /** the day files of the snapshot-layout store, and its points */
  val snapFiles: Seq[String] = lines.filter(_(0) == "snap_file").map(_(1))
  val snapPoints: Long = one("snap_points").toLong
  val warmDir: String = one("warm")
  val warmTickDir: String = one("warm_ticks")
  val warmPoints: Long = one("warm_points").toLong
  private def ticks(k: String) = lines.filter(_(0) == k)
    .map(a => TickFile(a(1), a(2), a(3).toLong))
  val ticks: Seq[TickFile] = ticks("tick")
  val warmTicks: Seq[TickFile] = ticks("warm_tick")
  private def panels(k: String) = lines.filter(_(0) == k)
    .map(a => Panel(a(1), a(2), a(3), a(4), a(5), a(6)))
  /** rounds of one panel of each kind */
  val panelRounds: Seq[Seq[Panel]] = panels("panel").grouped(5).toSeq
  val warmPanels: Seq[Panel] = panels("warm_panel")
}

object Spec {
  def load(path: String): Spec = Spec(
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t")))
}

/** One timed operation of the workload. */
final case class Op(kind: String, cycle: Int, seconds: Double,
    traced: Boolean, detail: String = "", req: Long = 0L)

/** Closed-loop, single-threaded client of the pipeline's public functions.
  * A cycle replays the reference's life in rounds: a cold backfill of the
  * day set through the batch pipeline and its streaming twin, a scheduler
  * tick on a newly landed day file with the first panel over that day, and
  * a dashboard round: a no-op tick and one panel of each kind. Timings are
  * kept per operation. */
final class Workload(spec: Spec, spark: SparkSession, tracer: Tracer) {
  val ops = ArrayBuffer.empty[Op]
  val failures = ArrayBuffer.empty[String]
  val scans = ArrayBuffer.empty[Scan]
  val writes = ArrayBuffer.empty[Written]
  val storeBytes = ArrayBuffer.empty[Double]
  val canaries = ArrayBuffer.empty[Double]
  /** panel results kept for the out-of-band correctness check */
  val checked = ArrayBuffer.empty[(Panel, Seq[Row], Seq[String])]
  /** tick name check: (expected, processed) per tick */
  val tickNames = ArrayBuffer.empty[(Seq[String], Seq[String])]

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Times `body` as one operation of kind `kind`; a thrown error is a
    * failed operation and ends the cycle. */
  private def op[T](kind: String, cycle: Int, detail: String = "")(body: => T): T = {
    val req = tracer.newRequest()
    val t0 = System.nanoTime()
    try {
      val out = tracer.span(kind, "bench")(body)
      ops += Op(kind, cycle, secs(t0), tracer.active, detail, req)
      out
    } catch {
      case e: Throwable =>
        failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
        throw e
    }
  }

  private def runBatch(in: String, store: String, ledger: String,
      snapshot: Boolean): Seq[String] =
    tracer.span("GasPipeline.runBatch", "pipeline") {
      GasPipeline.runBatch(spark, in, store, ledger, snapshot)
        .collect().map(_.getString(0)).toSeq
    }

  private def readPlain(store: String, p: Panel): DataFrame =
    tracer.span("LongStore.readWindow", "store") {
      LongStore.readWindow(spark, store, p.readStart, p.readStop)
    }

  /** Builds and runs one panel; returns its rows. */
  def panel(p: Panel, store: String, snap: String, keep: Boolean): Seq[Row] = {
    val df: DataFrame = p.kind match {
      case "field_range" =>
        GasQueries.fieldFilter(
          GasQueries.timeRange(readPlain(store, p), p.start, p.stop), p.field)
          .select("_time", "_value")
      case "snapshot_range" =>
        val long = tracer.span("LongStore.readCommitted", "store") {
          LongStore.readCommitted(spark, snap, p.readStart, p.readStop)
        }
        GasQueries.fieldFilter(GasQueries.timeRange(long, p.start, p.stop), p.field)
          .select("_time", "_value")
      case "day_mean" =>
        GasQueries.fieldDayMean(readPlain(store, p), p.field, p.start.take(10))
      case "window_agg" =>
        GasQueries.aggregateWindow(
          GasQueries.timeRange(readPlain(store, p), p.start, p.stop), "1 hour")
      case "wide_table" =>
        val win = GasQueries.timeRange(readPlain(store, p), p.start, p.stop)
        tracer.span("LongStore.pivot", "store")(LongStore.pivot(win))
    }
    val rows = tracer.span(s"panel.${p.kind}", "queries")(df.collect().toSeq)
    if (tracer.active) recordScans(df, p)
    if (keep) checked += ((p, rows, df.columns.toSeq))
    rows
  }

  private def recordScans(df: DataFrame, p: Panel): Unit = {
    def leaves(plan: SparkPlan): Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(leaves) ++
        other.subqueries.flatMap(leaves)
    }
    val fs = leaves(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    val windowParts = partitionsInWindow(if (p.kind == "snapshot_range") currentSnap else currentStore, p)
    scans += Scan(tracer.currentSpan, fs.map(m(_, "numFiles")).sum,
      fs.map(m(_, "filesSize")).sum, fs.map(m(_, "numPartitions")).sum, windowParts)
  }

  private var currentStore = ""
  private var currentSnap = ""
  /** (date, src) partitions of `store` whose day is in the panel's read
    * window. */
  private def partitionsInWindow(store: String, p: Panel): Long = {
    val root = Paths.get(store)
    if (!Files.isDirectory(root)) 0L
    else Files.list(root).iterator().asScala
      .filter(_.getFileName.toString.startsWith("_date="))
      .filter { d =>
        val day = d.getFileName.toString.stripPrefix("_date=")
        day >= p.readStart && day <= p.readStop
      }
      .map(d => Files.list(d).count()).sum
  }

  private def link(from: Path, to: Path): Unit =
    try Files.createLink(to, from)
    catch { case _: Exception => Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING) }

  private def dataFiles(store: String): Seq[Path] = {
    val root = Paths.get(store)
    if (!Files.isDirectory(root)) Nil
    else Files.walk(root).iterator().asScala.toSeq.filter { f =>
      val rel = root.relativize(f).toString
      Files.isRegularFile(f) && rel.startsWith("_date=") &&
        f.getFileName.toString.startsWith("part-")
    }
  }

  private def recordWrite(kind: String, store: String, before: Set[Path]): Unit =
    if (tracer.active) {
      val now = dataFiles(store)
      val fresh = now.filterNot(before)
      writes += Written(ops.last.req, kind, fresh.size.toLong,
        fresh.map(Files.size).sum)
    }

  private def linkAll(fromDir: String, to: Path): Seq[String] = {
    Files.createDirectories(to)
    Files.list(Paths.get(fromDir)).iterator().asScala.toSeq.sorted.map { f =>
      link(f, to.resolve(f.getFileName))
      f.getFileName.toString
    }
  }

  /** The snapshot-layout store over `files` of `daysDir`, built once per
    * run: its panels read a store no cycle rewrites. */
  def snapshot(root: String, snap: String, daysDir: String, files: Seq[String],
      points: Long): Unit = {
    val in = Paths.get(root, "snap_in")
    Files.createDirectories(in)
    files.foreach(f => link(Paths.get(daysDir, f), in.resolve(f)))
    val got = op("snapshot_backfill", -1, points.toString) {
      runBatch(in.toString, snap, s"$root/snap_ledger", snapshot = true)
    }
    recordWrite("snapshot_backfill", snap, Set.empty)
    tickNames += ((files.sorted, got.sorted))
  }

  /** A write round in `r`: a cold backfill of the day files in `daysDir`
    * into a fresh store, then the streaming twin over the same files. */
  def writeRound(c: Int, r: String, daysDir: String, points: Long): Unit = {
    val in = Paths.get(r, "in")
    val names = linkAll(daysDir, in)
    val got = op("backfill", c, points.toString) {
      runBatch(in.toString, s"$r/store", s"$r/ledger", snapshot = false)
    }
    recordWrite("backfill", s"$r/store", Set.empty)
    tickNames += ((names, got.sorted))
    storeBytes += dataFiles(s"$r/store").map(Files.size).sum.toDouble / points
    stream(c, r, points)
  }

  /** The AvailableNow streaming twin over the input files of `r`. */
  def stream(c: Int, r: String, points: Long): Unit =
    op("stream", c, points.toString) {
      tracer.span("GasStream.pipeline", "streaming") {
        val q = GasStream.pipeline(spark, s"$r/in", s"$r/stream", s"$r/ckpt")
        tracer.bindStream(q.runId.toString)
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
    }

  /** One scheduler tick on the store of `r`: `t` lands in its input
    * directory and the pipeline runs, then the first panel over that day. */
  def tick(c: Int, r: String, snap: String, t: TickFile, tickDir: String,
      keep: Boolean): Unit = {
    val store = s"$r/store"
    val before = if (tracer.active) dataFiles(store).toSet else Set.empty[Path]
    val names = op("tick", c, t.rawRows.toString) {
      link(Paths.get(tickDir, t.name), Paths.get(r, "in", t.name))
      runBatch(s"$r/in", store, s"$r/ledger", snapshot = false)
    }
    recordWrite("tick", store, before)
    tickNames += ((Seq(t.name), names.sorted))
    val day = java.time.LocalDate.parse(t.day)
    val p = Panel("day_mean", "CO (ppm)", s"$day 00:00:00",
      s"${day.plusDays(1)} 00:00:00", day.minusDays(1).toString, t.day)
    op("fresh_panel", c, t.day)(panel(p, store, snap, keep))
  }

  /** One dashboard round on the store of `r`: a tick with nothing new,
    * then `panels`; a panel is kept for the check when `keep(kind)`. */
  def dashboard(c: Int, r: String, snap: String, panels: Seq[Panel],
      keep: String => Boolean): Unit = {
    val store = s"$r/store"
    val none = op("noop", c)(runBatch(s"$r/in", store, s"$r/ledger", snapshot = false))
    tickNames += ((Nil, none))
    panels.foreach(p => op("panel", c, p.kind)(panel(p, store, snap, keep(p.kind))))
  }

  /** One cycle in `root`, in rounds. Round i makes write round i into
    * fresh stores (while i < `backfills`), tick i of `ticks` on the store
    * of the first write round, then one dashboard round on that store
    * with the panels of `rounds(i)`. Rounds go on until every write round
    * and tick is done and `more(rounds done)` no longer holds. Each kind
    * of operation is thus spread over the whole cycle, so a stretch of
    * host noise reaches only some of its samples. Returns the directory
    * of the first write round. */
  def cycle(c: Int, root: String, snap: String, daysDir: String, points: Long,
      backfills: Int, ticks: Seq[TickFile], tickDir: String,
      rounds: Seq[Seq[Panel]], more: Int => Boolean, keep: Boolean): String = {
    val serving = s"$root/b0"
    currentStore = s"$serving/store"
    currentSnap = snap
    val seen = collection.mutable.Set.empty[String]
    var i = 0
    do {
      if (i < backfills) writeRound(c, s"$root/b$i", daysDir, points)
      if (i < ticks.size) tick(c, serving, snap, ticks(i), tickDir, keep && i == 0)
      dashboard(c, serving, snap, rounds(i % rounds.size), k => keep && seen.add(k))
      i += 1
    } while (i < backfills || i < ticks.size || more(i))
    serving
  }

  /** The set-up's program work: the snapshot-layout store over `files`
    * of `daysDir`, then panel `p` over it. */
  def setup(root: String, snap: String, daysDir: String, files: Seq[String],
      points: Long, p: Panel): Unit = {
    snapshot(root, snap, daysDir, files, points)
    currentSnap = snap
    panel(p, "", snap, keep = false)
  }

  /** Host canary: a code-independent `spark.range` sum, timed. */
  def canary(): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 40000000L, 1L, spec.cpus.toInt)
      .selectExpr("sum(id % 1000003) AS s")
      .write.format("noop").mode("overwrite").save()
    secs(t0)
  }
}

object PerfBench {
  def session(spec: Spec): SparkSession = {
    // the settings of the GasPipeline CLI; Spark's local and warehouse
    // directories go into the run directory
    val spark = SparkSession.builder()
      .master(s"local[${spec.cpus}]")
      .config("spark.sql.shuffle.partitions", spec.cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${spec.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${spec.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  def main(args: Array[String]): Unit = {
    val jvm0 = System.nanoTime()
    val spec = Spec.load(args(0))
    val out = Paths.get(args(1))
    val work = Paths.get(spec.work)
    Files.createDirectories(work)

    // set-up, cold: from the start of this JVM, a session with the pipeline
    // settings, the snapshot-layout store (the read-only dashboard store of
    // the base days up to the snapshot panels' window) and one panel over
    // it
    val spark = session(spec)
    val tracer = new Tracer(spec.trace)
    val bench = new Workload(spec, spark, tracer)
    val snap = s"${spec.work}/snap"
    tracer.attach(spark)
    bench.setup(spec.work, snap, spec.baseDir, spec.snapFiles, spec.snapPoints,
      spec.panelRounds.head.find(_.kind == "snapshot_range").get)
    tracer.detach(spark)
    val setupS = (System.nanoTime() - jvm0) / 1e9
    // an untimed warm-up cycle on the small warm-up days: a backfill, the
    // streaming twin, a tick, a no-op and every panel type, so that the
    // measured operations do not run cold
    val warm = s"${spec.work}/warm"
    val warmUp = new Workload(spec, spark, new Tracer(false))
    warmUp.cycle(0, warm, snap, spec.warmDir, spec.warmPoints, 1, spec.warmTicks,
      spec.warmTickDir, Seq(spec.warmPanels), _ => false, keep = false)
    rmTree(Paths.get(warm))
    System.err.println(f"[perfbench] set-up done at $setupS%.1f s, warm-up at " +
      f"${(System.nanoTime() - jvm0) / 1e9}%.1f s")

    // measured cycles. An end-to-end run makes one cycle, whose
    // rounds go on until `seconds` have passed. A traced run makes three
    // with one backfill and `minRounds` rounds each, the same work:
    // untraced, traced, untraced. The JVM still speeds up from cycle to
    // cycle, so the tracing overhead compares the traced cycle with the
    // untraced ones on both sides of it
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val backfills = if (spec.trace) 1 else spec.backfills
    val more: Int => Boolean =
      if (spec.trace) _ < spec.minRounds
      else r => r < spec.minRounds || elapsed < spec.seconds
    if (spec.trace) bench.canaries += bench.canary()
    var lastStore = ""
    var c = 0
    var ok = true
    while (ok && c < (if (spec.trace) 3 else 1)) {
      val traced = spec.trace && c == 1
      if (c > 0) rmTree(Paths.get(s"${spec.work}/cycle${c - 1}"))
      if (traced) tracer.attach(spark)
      val last =
        try Some(bench.cycle(c, s"${spec.work}/cycle$c", snap, spec.baseDir,
          spec.basePoints, backfills, spec.ticks, spec.tickDir, spec.panelRounds,
          more, keep = c == 0))
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] cycle $c failed: $e")
          None
        }
      if (traced) tracer.detach(spark)
      System.err.println(f"[perfbench] cycle $c traced=$traced " +
        f"${bench.ops.filter(_.cycle == c).map(_.seconds).sum}%.1f s of operations")
      last.foreach(lastStore = _)
      ok = last.isDefined
      c += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    if (spec.trace) bench.canaries += bench.canary()

    val spans = tracer.allSpans
    if (spec.trace) {
      val w = Files.newBufferedWriter(work.resolve("spans.jsonl"))
      try spans.foreach(s => w.write(Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "parent" -> s.parent.toString,
        "req" -> s.req.toString, "job" -> s.job.toString)) + "\n"))
      finally w.close()
    }

    // the stores of the last cycle stay on disk for the out-of-band check
    val res = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "measured_s" -> Json.num(measuredS),
      "cycles" -> c.toString,
      "stores" -> Json.obj(Seq("batch" -> Json.str(s"$lastStore/store"),
        "stream" -> Json.str(s"$lastStore/stream"), "snapshot" -> Json.str(snap))),
      "ops" -> Json.arr(bench.ops.map(o => Json.obj(Seq(
        "kind" -> Json.str(o.kind), "cycle" -> o.cycle.toString,
        "s" -> Json.num(o.seconds), "traced" -> o.traced.toString,
        "detail" -> Json.str(o.detail), "req" -> o.req.toString))).toSeq),
      "failures" -> Json.arr(bench.failures.map(Json.str).toSeq),
      "store_bytes_per_point" -> Json.arr(bench.storeBytes.map(Json.num).toSeq),
      "tick_names" -> Json.arr(bench.tickNames.map { case (e, g) =>
        Json.arr(Seq(Json.arr(e.map(Json.str)), Json.arr(g.map(Json.str)))) }.toSeq),
      "panels" -> Json.arr(bench.checked.map { case (p, rows, cols) =>
        Json.obj(Seq("kind" -> Json.str(p.kind), "field" -> Json.str(p.field),
          "start" -> Json.str(p.start), "stop" -> Json.str(p.stop),
          "columns" -> Json.arr(cols.map(Json.str)),
          "rows" -> Json.arr(rows.map(r => Json.arr(r.toSeq.map(Json.cell)))))) }.toSeq),
      "canary_s" -> Json.arr(bench.canaries.map(Json.num).toSeq),
      "layers" -> (if (spec.trace) LayerReport(spans, tracer, bench).json else "null")))
    Files.write(out, res.getBytes("UTF-8"))
    System.err.println(f"[perfbench] measured ${measuredS}%.1f s, result written at ${(System.nanoTime() - jvm0) / 1e9}%.1f s")
    spark.stop()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  /** A result cell: timestamps as epoch microseconds, dates as ISO days,
    * doubles with every digit. */
  def cell(v: Any): String = v match {
    case null => "null"
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: Double => num(d)
    case n: java.lang.Number => n.toString
    case s: String => str(s)
    case other => str(other.toString)
  }
}
