package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Spans the benchmark opens around a layer call have
  * `job = -1`; spans made from Spark jobs carry their job id, and their
  * layer comes from the job's call site. `req` groups the spans of one
  * workload request (one backfill, one tick, one panel ...). */
final case class Span(id: Long, name: String, layer: String, startNs: Long,
    endNs: Long, parent: Long, req: Long, job: Int = -1)

/** One streaming micro-batch, from the query listener. */
final case class Progress(span: Long, rows: Long, rowsPerS: Double, batchMs: Long)

/** Per-job counters summed from task ends. */
final class JobStats {
  var tasks = 0L
  var taskNs = 0L
  var gcMs = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** run time (ms) of every task, per stage: the input to the write-stage
    * skew (max / mean task time). */
  val stageTaskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
}

/** Spans kept in memory plus the listeners that count Spark work. It traces
  * only while attached; detached (or disabled) it costs one branch per call:
  * no job groups, no listeners, no spans. */
final class Tracer(val enabled: Boolean) {
  @volatile private var on = false
  def active: Boolean = on
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var req = 0L
  /** spans made by the listener from Spark jobs */
  private val jobSpans = new ConcurrentHashMap[Int, Span]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** call site of each SQL execution: the thread that started the action,
    * so it names the program frame even for jobs the adaptive executor
    * submits from its own threads */
  private val execSite = new ConcurrentHashMap[Long, String]()
  val jobStats = new ConcurrentHashMap[Int, JobStats]()
  /** streaming run id -> span that started the query */
  private val streamSpan = new ConcurrentHashMap[String, Long]()
  val progress = ArrayBuffer.empty[Progress]

  private var sc: SparkContext = _
  /** Span times are wall-clock nanoseconds, the clock of Spark's job
    * events, so the spans of the benchmark and of jobs nest. */
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Long = System.nanoTime() + offset

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Removes the listeners again (after draining what they were sent), so
    * an untraced cycle runs without them. */
  def detach(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    on = false
    org.apache.spark.PerfBenchBus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  def newRequest(): Long = { req += 1; req }

  /** Runs `body` inside a span; Spark jobs it starts carry the span id as
    * their job group, so their counts map back to it. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack = stack.tail
        if (parent == 0L) sc.clearJobGroup()
        else sc.setJobGroup(parent.toString, name, interruptOnCancel = false)
        spans.synchronized { spans += Span(id, name, layer, t0, t1, parent, req) }
      }
    }

  /** Binds a streaming query's jobs (their group is the query's run id) to
    * the current span. */
  def bindStream(runId: String): Unit =
    if (on) streamSpan.put(runId, stack.headOption.getOrElse(0L))

  def currentSpan: Long = stack.headOption.getOrElse(0L)

  /** Every span: the benchmark's own, then one per Spark job with its parent
    * resolved through the job group. */
  def allSpans: Seq[Span] = {
    val own = spans.synchronized(spans.toList)
    val reqOf = own.map(s => s.id -> s.req).toMap
    val layerOf = own.map(s => s.id -> s.layer).toMap
    val jobs = jobSpans.asScala.toSeq.map { case (jobId, s) =>
      val g = Option(jobGroup.get(jobId)).getOrElse("")
      val parent =
        if (g.nonEmpty && g.forall(_.isDigit)) g.toLong
        else streamSpan.getOrDefault(g, 0L)
      val layer = if (s.layer.nonEmpty) s.layer else layerOf.getOrElse(parent, "spark")
      s.copy(parent = parent, req = reqOf.getOrElse(parent, 0L), layer = layer)
    }
    own ++ jobs.sortBy(_.startNs)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobGroup.put(e.jobId, g)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSite.get(id.toLong)))
      val site = exec.getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
      jobSpans.put(e.jobId, Span(ids.incrementAndGet(), s"job:${Layers.site(site)}",
        Layers.of(site), e.time * 1000000L, e.time * 1000000L, 0L, 0L, e.jobId))
      jobStats.put(e.jobId, new JobStats)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSite.put(x.executionId, x.details)
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobSpans.get(e.jobId)
      if (s != null) jobSpans.put(e.jobId, s.copy(endNs = e.time * 1000000L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageJob.get(e.stageId)
      val st = if (job == null) null else jobStats.get(job)
      if (st != null && e.taskInfo != null) st.synchronized {
        st.tasks += 1
        st.taskNs += e.taskInfo.duration * 1000000L
        st.stageTaskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) +=
          e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          st.gcMs += m.jvmGCTime
          st.recordsRead += m.inputMetrics.recordsRead
          st.bytesRead += m.inputMetrics.bytesRead
          st.bytesWritten += m.outputMetrics.bytesWritten
          st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val span = streamSpan.getOrDefault(p.runId.toString, 0L)
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0) progress.synchronized {
        progress += Progress(span, p.numInputRows, p.processedRowsPerSecond, ms)
      }
    }
  }
}

/** Maps a Spark job to the program layer whose code started it, from the
  * call-site stack trace Spark records with each stage. The innermost frame
  * of the program decides, except that work done on behalf of the ledger or
  * the manifest is billed to those side tables. */
object Layers {
  private val Frame = """graft\.([A-Za-z.]+?)\$?\.([A-Za-z0-9_$]+)\(""".r

  private def frames(site: String): Seq[(String, String)] =
    Frame.findAllMatchIn(site).map(m => (m.group(1), m.group(2))).toSeq

  /** `<object>.<method>` of the innermost program frame. */
  def site(details: String): String =
    frames(details).headOption.map { case (o, m) => s"$o.$m" }.getOrElse("-")

  /** The layer, or "" when no program frame decides (the job then belongs
    * to the layer of the span that started it). */
  def of(details: String): String = {
    val fs = frames(details)
    def has(obj: String, method: String) = fs.exists { case (o, m) =>
      o.endsWith(obj) && m.contains(method) }
    if (has("GasIngest", "appendToLedger")) "ingest.ledger_append"
    else if (has("LongStore", "appendManifest")) "store.manifest_append"
    else if (has("LongStore", "writeSnapshot")) "store.write_snapshot"
    else if (has("LongStore", "write")) "store.write"
    else if (has("LongStore", "readWindow") || has("LongStore", "readCommitted"))
      "store.read_resolve"
    else if (has("GasPipeline", "runBatch")) "ingest.discover"
    else if (fs.exists(_._1.endsWith("GasStream"))) "streaming"
    else ""
  }
}
