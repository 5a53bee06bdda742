package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.schema.GasSchema
import graft.store.LongStore
import graft.transform.GasTransform

/** Structured-Streaming variant of the pipeline (SURVEY.md §2.9) — where the
  * engine is *more* native than the reference: the file source's checkpoint
  * subsumes the whole Airflow discover→ledger→branch machinery (ETL.py
  * 13-55), `Trigger.AvailableNow` is "one manual DAG run", and
  * `maxFilesPerTrigger` is the per-file fan-out.
  */
object GasStream {

  /** Streaming read of the day-file directory with the pinned schema. */
  def readStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 13): DataFrame =
    spark.readStream
      .schema(GasSchema.gasSchema)
      .option("header", "true")
      .option("pathGlobFilter", "*.csv")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(dir)
      .withColumn("file_name", element_at(split(input_file_name(), "/"), -1))

  /** Full streaming pipeline: transform → unpivot → date-partitioned store
    * via foreachBatch (the load stage, SURVEY.md §2.9). The checkpoint IS
    * the ledger: a re-run with the same checkpoint skips seen files. */
  def pipeline(spark: SparkSession, inputDir: String, storePath: String,
      checkpoint: String): StreamingQuery = {
    val transformed = GasTransform(readStream(spark, inputDir))
    // Writer parallelism scaled to the day-file size (the round-11
    // single-writer funnel finding — see LongStore.writersFor); computed
    // once at plan time from FS metadata, not per micro-batch.
    val writers = LongStore.writersFor(spark, inputDir)
    // file_name rides along as `_src` so the store's overwrite unit is one
    // source file — a day split across micro-batches by maxFilesPerTrigger
    // can no longer clobber the day partition written by an earlier trigger.
    LongStore.unpivot(transformed.withColumnRenamed("file_name", "_src"))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one narrow pass for the batch's source files, then the batch read
        // for the store write — the persist keeps this at one input scan
        val b = batch.persist()
        try {
          val srcs = b.select("_src").distinct()
            .collect().map(_.getString(0)).sorted
          // the batch pipeline's own commit (GasPipeline.runBatch): data,
          // then manifest, so a stream-built store plans window queries
          // through LongStore.readWindow exactly like a batch-built one.
          // foreachBatch is at-least-once; a replayed batch re-appends the
          // same rows and readWindow/compaction deduplicate — the
          // manifest's documented replay contract.
          if (srcs.nonEmpty)
            LongStore.commitBatch(b, storePath, srcs.toIndexedSeq, writers,
              snapshot = false)
        } finally { b.unpersist(); () }
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Watermarked tumbling-window downsampling over a live long stream —
    * the continuous form of Q4 `aggregateWindow` with late-data handling
    * the reference never had. */
  def downsampleStream(long: DataFrame, every: String, watermark: String): DataFrame =
    long.withWatermark("_time", watermark)
      .groupBy(window(col("_time"), every), col("_field"))
      .agg(avg(col("_value")).as("mean_value"), count(lit(1)).as("n_points"))
      .select(col("window.start").as("_bucket"), col("_field"),
        col("mean_value"), col("n_points"))

  /** Per-field state carried across micro-batches by [[runningFieldStats]]. */
  case class FieldState(n: Long, total: Double, maxValue: Double)

  /** One update row emitted per field per micro-batch. */
  case class FieldStats(_field: String, n: Long, mean: Double, max_value: Double)

  /** Custom stateful streaming aggregation via `mapGroupsWithState`
    * (SURVEY.md §2.9 extended surface): lifetime running (count, mean, max)
    * per field, carried across micro-batches in explicit keyed state — the
    * shape (KeyValueGroupedDataset + GroupState) that covers what windowed
    * aggregates can't express: counters/sessions/custom machines whose
    * state outlives any window. State is one small record per key, so the
    * store stays bounded by field cardinality, not data volume. */
  def runningFieldStats(long: DataFrame): DataFrame = {
    import long.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.streaming.GroupState
    long.selectExpr("_field", "_value").as[(String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (field: String, rows: Iterator[(String, Double)], state: GroupState[FieldState]) =>
          val prev = state.getOption.getOrElse(FieldState(0L, 0.0, Double.NegativeInfinity))
          var n = prev.n
          var total = prev.total
          var mx = prev.maxValue
          rows.foreach { case (_, v) =>
            n += 1; total += v; mx = math.max(mx, v)
          }
          val next = FieldState(n, total, mx)
          state.update(next)
          FieldStats(field, n, total / n, mx)
      }
      .toDF()
  }

  /** Streaming exact dedup with BOUNDED state: a duplicate point (same
    * field + event time) arriving again within the watermark horizon is
    * dropped; state for keys older than the watermark is evicted, so the
    * dedup store is bounded by horizon × point rate, not stream lifetime.
    * This is the streaming form of exact dedup (tx01) for at-least-once
    * sources that can redeliver. */
  def dedupeStream(long: DataFrame, watermark: String): DataFrame =
    long.withWatermark("_time", watermark)
      // a point's identity in the long model is (measurement, field, time) —
      // omitting the measurement would collapse same-named fields of two
      // measurements into one point
      .dropDuplicatesWithinWatermark("_measurement", "_field", "_time")

  /** Watermarked stream-stream interval join: pair each reading of
    * `fieldA` with the readings of `fieldB` at most `withinMinutes` older —
    * e.g. attach recent humidity context to every CO reading, live. Both
    * sides carry watermarks and the join condition bounds event-time
    * distance, so Spark evicts join state older than watermark + interval:
    * state is bounded by rate × window, not stream lifetime. */
  def pairedReadings(long: DataFrame, fieldA: String, fieldB: String,
      watermark: String, withinMinutes: Int, joinType: String = "inner",
      bMin: Option[Double] = None): DataFrame = {
    // Spark requires an equality predicate on stream-stream joins; the
    // measurement is the natural co-partitioning key of the long model
    // (and the shuffle key, so a measurement's readings meet on one node)
    val a = long.filter(col("_field") === fieldA)
      .withWatermark("_time", watermark)
      .select(col("_measurement"), col("_time").as("a_time"),
        col("_value").as("a_value"))
    // the optional validity filter runs BEFORE the watermark node, so the
    // b stream (and its watermark stats) is the stream of VALID readings
    val bRows = bMin.foldLeft(long.filter(col("_field") === fieldB)) {
      (df, m) => df.filter(col("_value") >= m)
    }
    val b = bRows
      .withWatermark("_time", watermark)
      .select(col("_measurement").as("b_measurement"),
        col("_time").as("b_time"), col("_value").as("b_value"))
    a.join(b, expr(
      s"""_measurement = b_measurement AND
         |b_time BETWEEN a_time - INTERVAL $withinMinutes MINUTES AND a_time""".stripMargin),
      joinType)
      .drop("b_measurement")
  }

  /** One open session (event-time micros) inside [[OpenSessions]]. */
  case class SessionAgg(start: Long, end: Long, n: Long)

  /** All of a key's still-open sessions, sorted by start. More than one can
    * be open at once when late events arrive behind the newest session —
    * each must stay joinable until the watermark seals it, so singletons
    * can merge with each other and with later stragglers. The count is
    * bounded by ⌈allowed lateness / gap⌉ + 1 (older events are dropped by
    * the watermark), so state stays small per key. */
  case class OpenSessions(sessions: Seq[SessionAgg])

  /** A finalized session emitted by [[closedSessions]]. */
  case class ClosedSession(_field: String, start_us: Long, end_us: Long, n_points: Long)

  /** Event-time sessionization with CLOSED-session emission via
    * `flatMapGroupsWithState` + `EventTimeTimeout` — the stateful surface
    * `session_window` aggregation can't provide. Every batch: sessionize
    * the batch's (sorted) events, gap-merge the resulting list with the
    * open-session state, then close exactly the sessions the WATERMARK has
    * passed (end + gap ≤ watermark) — gap-broken sessions too wait for the
    * watermark, so any admissible late event can still rejoin them; the
    * timeout path runs the same closure for keys that simply stop. Each
    * session emits exactly once, in append mode. */
  def closedSessions(long: DataFrame, gapMinutes: Int, watermark: String): DataFrame = {
    import long.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val gapUs = gapMinutes * 60L * 1000000L
    long
      .withWatermark("_time", watermark)
      // the watermarked _time column must flow INTO the stateful operator
      // (projecting it to a long first would drop the watermark tag)
      .select(col("_field"), col("_time")).as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSessions, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (field: String, rows: Iterator[(String, java.sql.Timestamp)],
            state: GroupState[OpenSessions]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prior = state.getOption.map(_.sessions).getOrElse(Seq.empty)
          // sessionize this batch's events (empty on a pure timeout call)
          val ts = rows.map(_._2.getTime * 1000L).toArray.sorted
          val batch = Seq.newBuilder[SessionAgg]
          var cur: SessionAgg = null
          ts.foreach { t =>
            if (cur == null) cur = SessionAgg(t, t, 1)
            else if (t <= cur.end + gapUs)
              cur = SessionAgg(cur.start, math.max(cur.end, t), cur.n + 1)
            else { batch += cur; cur = SessionAgg(t, t, 1) }
          }
          if (cur != null) batch += cur
          // gap-merge the two sorted session lists (event counts add)
          val merged = (prior ++ batch.result()).sortBy(_.start)
            .foldLeft(List.empty[SessionAgg]) { (acc, s) =>
              acc match {
                case h :: t if s.start <= h.end + gapUs =>
                  SessionAgg(h.start, math.max(h.end, s.end), h.n + s.n) :: t
                case _ => s :: acc
              }
            }.reverse
          val (closed, open) = merged.partition(s => s.end + gapUs <= wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(OpenSessions(open))
            // fire when the oldest open session becomes sealable; > wm is
            // guaranteed because sealable sessions were just closed
            state.setTimeoutTimestamp((open.map(_.end).min + gapUs) / 1000L)
          }
          closed.iterator.map(s => ClosedSession(field, s.start, s.end, s.n))
      }
      .toDF()
  }

  /** Per-key EMA recursion state: last smoothed value + last applied time. */
  case class EmaState(ema: Double, lastUs: Long, n: Long)

  /** One smoothed point emitted per applied input point. */
  case class EmaPoint(_field: String, ts_us: Long, value: Double, ema: Double, n: Long)

  /** Streaming exponential moving average — the UNBOUNDED-series form of
    * ts21's closed-form batch EMA (PLANS.md): y_1 = x_1,
    * y_i = k·x_i + (1−k)·y_{i−1}, carried as one tiny record of keyed
    * state per series, so an infinite stream costs O(keys) state and zero
    * re-reads. Within a micro-batch events are applied in event-time
    * order; across batches the recursion is inherently sequential, so a
    * straggler OLDER than the last applied point cannot retroactively
    * re-smooth history — it is dropped, and the monotone guard makes that
    * an explicit, documented semantics (the alternative — buffering the
    * watermark horizon per key — buys exact replay at gap-fill cost;
    * ts21 is the exact batch semantics when order matters after the
    * fact). StatefulStreamSpec pins stream ≡ recursion across batches and
    * the straggler drop. */
  def emaStream(long: DataFrame, k: Double = 0.2): DataFrame = {
    import long.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    long.select(col("_field"), col("_time"), col("_value"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EmaState, EmaPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (field: String, rows: Iterator[(String, java.sql.Timestamp, Double)],
            state: GroupState[EmaState]) =>
          var st = state.getOption.getOrElse(EmaState(0.0, Long.MinValue, 0L))
          val out = Seq.newBuilder[EmaPoint]
          // full-microsecond event time: getTime alone truncates to ms
          def micros(t: java.sql.Timestamp): Long =
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
          rows.toSeq.sortBy(r => micros(r._2)).foreach { case (_, t, v) =>
            val us = micros(t)
            if (us >= st.lastUs) { // monotone guard: drop stale stragglers
              val y = if (st.n == 0L) v else k * v + (1 - k) * st.ema
              st = EmaState(y, us, st.n + 1)
              out += EmaPoint(field, us, v, y, st.n)
            }
          }
          if (st.n > 0L) state.update(st)
          out.result().iterator
      }
      .toDF()
  }

  /** Per-key CUSUM detector state: both cumulative sides, the alarm flag,
    * and the last applied event time (monotone guard, as in EMA). */
  case class CusumState(sp: Double, sn: Double, alarm: Boolean, lastUs: Long)

  /** One detector reading emitted per applied input point. */
  case class CusumPoint(_field: String, ts_us: Long, value: Double,
      sp: Double, sn: Double, alarm: Boolean)

  /** Streaming CUSUM changepoint detection — the UNBOUNDED-series form of
    * ts26's batch kernel, and the archetypal "page the on-call when the
    * sensor drifts" streaming job: Page's one-sided cumulative sums are
    * TWO doubles + a flag of keyed state per series, advanced by the SAME
    * [[graft.operators.Cusum.step]] the batch kernel runs (stream ≡ batch
    * by construction). Unlike ts26, which estimates μ/k/h from the full
    * series — a luxury an infinite stream doesn't have — the detector
    * takes its target mean and thresholds as configuration, exactly how
    * production CUSUM monitors are deployed (parameters from a training
    * window, detection online). Ordering semantics are emaStream's:
    * event-time order within a batch, monotone guard across batches
    * (a straggler older than the last applied point is dropped —
    * re-running a sequential detector backwards is not meaningful). */
  def cusumStream(long: DataFrame, mu: Double, k: Double,
      h: Double): DataFrame = {
    import long.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    long.select(col("_field"), col("_time"), col("_value"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (field: String, rows: Iterator[(String, java.sql.Timestamp, Double)],
            state: GroupState[CusumState]) =>
          var st = state.getOption
            .getOrElse(CusumState(0.0, 0.0, alarm = false, Long.MinValue))
          val out = Seq.newBuilder[CusumPoint]
          def micros(t: java.sql.Timestamp): Long =
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
          rows.toSeq.sortBy(r => micros(r._2)).foreach { case (_, t, v) =>
            val us = micros(t)
            if (us >= st.lastUs) { // monotone guard: drop stale stragglers
              val (sp, sn, alarm) =
                graft.operators.Cusum.step(st.sp, st.sn, st.alarm, v, mu, k, h)
              st = CusumState(sp, sn, alarm, us)
              out += CusumPoint(field, us, v, sp, sn, alarm)
            }
          }
          if (st.lastUs != Long.MinValue) state.update(st)
          out.result().iterator
      }
      .toDF()
  }

  /** Spark 4 `transformWithState` twin of [[cusumStream]] — the SAME
    * CUSUM kernel ([[graft.operators.Cusum.step]], same in-batch
    * event-time sort, same monotone guard) on the forward-compatible
    * state API: a [[org.apache.spark.sql.streaming.StatefulProcessor]]
    * with a typed `ValueState` handle instead of
    * `flatMapGroupsWithState`'s single implicit `GroupState`.
    *
    * API trade-off, measured on this kernel (recorded for the other
    * seven kernels still on flatMapGroupsWithState):
    *  - transformWithState REQUIRES the RocksDB state store provider
    *    (AnalysisException on the default HDFS-backed store), so the
    *    caller pins `spark.sql.streaming.stateStore.providerClass` for
    *    the query — an operational dependency flatMapGroupsWithState
    *    does not have;
    *  - state declaration is richer (named handles, multiple
    *    ValueState/ListState/MapState per processor, per-state TTL) —
    *    for this kernel the ONE case-class value needs none of that,
    *    so the body is line-for-line the flatMapGroupsWithState one;
    *  - init/close lifecycle makes the handle wiring explicit, and the
    *    same processor instance serves every key — no per-key closure
    *    capture.
    * Semantics are identical; gs15 hash-verifies the migrated kernel
    * point-by-point against the same WITH RECURSIVE oracle replay. */
  class CusumProcessor(mu: Double, k: Double, h: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, java.sql.Timestamp, Double), CusumPoint] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[CusumState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CusumState]("cusum",
        org.apache.spark.sql.Encoders.product[CusumState], TTLConfig.NONE)

    override def handleInputRows(field: String,
        rows: Iterator[(String, java.sql.Timestamp, Double)],
        timerValues: TimerValues): Iterator[CusumPoint] = {
      var st = if (state.exists()) state.get()
        else CusumState(0.0, 0.0, alarm = false, Long.MinValue)
      val out = Seq.newBuilder[CusumPoint]
      def micros(t: java.sql.Timestamp): Long =
        Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      rows.toSeq.sortBy(r => micros(r._2)).foreach { case (_, t, v) =>
        val us = micros(t)
        if (us >= st.lastUs) { // monotone guard: drop stale stragglers
          val (sp, sn, alarm) =
            graft.operators.Cusum.step(st.sp, st.sn, st.alarm, v, mu, k, h)
          st = CusumState(sp, sn, alarm, us)
          out += CusumPoint(field, us, v, sp, sn, alarm)
        }
      }
      if (st.lastUs != Long.MinValue) state.update(st)
      out.result().iterator
    }
  }

  /** [[cusumStream]] on the transformWithState API (see
    * [[CusumProcessor]]). Caller must run the query on the RocksDB
    * state store provider. */
  def cusumStreamTws(long: DataFrame, mu: Double, k: Double,
      h: Double): DataFrame = {
    import long.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    long.select(col("_field"), col("_time"), col("_value"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .transformWithState(new CusumProcessor(mu, k, h),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Per-key enrichment state: the last VALID context reading applied so
    * far in event-time order, plus the family's monotone guard. O(1) per
    * key — the whole point of the operator (see [[lastValueEnrichStream]]). */
  case class EnrichState(ctxUs: Long, ctxVal: Double, hasCtx: Boolean,
      lastUs: Long)

  /** One enriched target reading: the target point 1:1, carrying the
    * as-of context point (None until the first valid context arrives). */
  case class EnrichedPoint(t_us: Long, v: Double, ctx_us: Option[Long],
      ctx: Option[Double])

  /** RATE-ROBUST STREAM-STREAM PAIRING — the production alternative to the
    * interval join ([[pairedReadings]] / gs08) whose output is
    * rate² × interval BY DEFINITION: keep the last valid context reading
    * (e.g. humidity) as keyed state and emit every target reading (e.g.
    * CO) exactly once, enriched with the context as of its event time —
    * the classic as-of/backward join, served live. Output is 1:1 with the
    * target stream and state is ONE value per key, so BOTH are linear in
    * rate where the interval join's result is quadratic — this is the
    * shape that survives sensor-fusion rates (the 112 Hz census rung that
    * excludes gs08/gs13 by semantics).
    *
    * Ordering contract (the gs10/gs15 family convention): event-time order
    * within a batch with the context sorting BEFORE the target at the same
    * instant (as-of uses ≤, and in the wide source both fields of one
    * sample share a timestamp), monotone guard across batches — a
    * straggler older than the last applied point is dropped, the
    * redelivery discipline for a sequential operator. Unlike the
    * append-mode window sinks there is NO watermark cutoff to replay:
    * every target row emits immediately, exactly once, so the DuckDB
    * oracle is the plain as-of join over the raw CSVs. Runs on
    * `transformWithState` (RocksDB provider required — see
    * [[CusumProcessor]]'s API notes).
    *
    * MEMORY BOUND (applies to every SLADDER rate-ladder claim for gs34):
    * `handleInputRows` materializes and sorts ONE KEY's share of ONE
    * micro-batch (`rows.toSeq.sortBy` below — transformWithState gives no
    * secondary-sort contract, so the event-time order the as-of needs
    * must be imposed here). The task-memory bound is therefore
    * O(max rows per key per micro-batch) × ~40 B/tuple. Under a RATE
    * source or continuous trigger that is rate × trigger-interval per
    * sensor — a few thousand rows at any realistic per-key rate. The
    * DEGENERATE corner is Trigger.AvailableNow on a single-measurement
    * fixture: the whole input is one key's one batch (2.4 M rows ≈
    * ~100 MB at the 28–112 Hz SLADDER rungs — fine on this harness's
    * executors, but the number to check before re-using the AvailableNow
    * replay shape on a bigger backlog; production replays should bound
    * the batch via maxFilesPerTrigger or a rate limit instead). */
  class LastValueEnrichProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, java.sql.Timestamp, Double, Int), EnrichedPoint] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[EnrichState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[EnrichState]("enrich",
        org.apache.spark.sql.Encoders.product[EnrichState], TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, java.sql.Timestamp, Double, Int)],
        timerValues: TimerValues): Iterator[EnrichedPoint] = {
      var st = if (state.exists()) state.get()
        else EnrichState(0L, 0.0, hasCtx = false, Long.MinValue)
      val out = Seq.newBuilder[EnrichedPoint]
      def micros(t: java.sql.Timestamp): Long =
        Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      // context (tag 0) before target (tag 1) at equal event times: the
      // as-of is ≤, so a target sees the context of its own sample
      rows.toSeq.sortBy(r => (micros(r._2), r._4)).foreach {
        case (_, t, v, tag) =>
          val us = micros(t)
          if (us >= st.lastUs) { // monotone guard: drop stale stragglers
            if (tag == 0) st = EnrichState(us, v, hasCtx = true, us)
            else {
              out += EnrichedPoint(us, v,
                if (st.hasCtx) Some(st.ctxUs) else None,
                if (st.hasCtx) Some(st.ctxVal) else None)
              st = st.copy(lastUs = us)
            }
          }
      }
      if (st.lastUs != Long.MinValue) state.update(st)
      out.result().iterator
    }
  }

  /** [[LastValueEnrichProcessor]] over the long gas stream: enrich every
    * `targetField` reading with the last `contextField` reading whose
    * value passes the `ctxMin` validity floor (gs13's threshold shape —
    * invalid context never enters state, so targets reach BACK over it).
    * Keyed by `_measurement`, the long model's co-location key: a
    * measurement's readings meet on one state partition, and parallelism
    * scales with measurement (sensor) cardinality — the production layout
    * where a fleet of sensors spreads across the cluster. Caller must run
    * the query on the RocksDB state store provider. */
  def lastValueEnrichStream(long: DataFrame, targetField: String,
      contextField: String, ctxMin: Double): DataFrame = {
    import long.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    long
      .filter(col("_field") === targetField ||
        (col("_field") === contextField && col("_value") >= ctxMin))
      .select(col("_measurement"), col("_time"), col("_value"),
        when(col("_field") === contextField, 0).otherwise(1).as("tag"))
      .as[(String, java.sql.Timestamp, Double, Int)]
      .groupByKey(_._1)
      .transformWithState(new LastValueEnrichProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Per-key Kalman state: estimate + variance + the monotone guard. */
  case class KalmanStreamState(x: Double, p: Double, lastUs: Long, n: Long)

  /** One filtered reading per applied input point. */
  case class KalmanPoint(_field: String, ts_us: Long, value: Double,
      x_hat: Double, p_var: Double, k_gain: Double)

  /** Streaming KALMAN FILTER — the UNBOUNDED-series form of ts30's
    * local-level filter, completing the batch↔stream twin set (EMA ≡
    * gs10, CUSUM ≡ gs15): the predict→gain→update recursion advanced by
    * the SAME [[graft.operators.Kalman.step]] the batch kernel runs
    * (stream ≡ batch by construction), carried as two doubles of keyed
    * state. Where ts30 estimates Q/R from the full series — a luxury an
    * infinite stream doesn't have — the streaming filter takes them as
    * configuration, exactly as gs15 takes its detector thresholds.
    * Ordering semantics are emaStream's (event-time order within a batch,
    * monotone guard across batches). */
  def kalmanStream(long: DataFrame, q: Double, r: Double): DataFrame = {
    import long.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    long.select(col("_field"), col("_time"), col("_value"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[KalmanStreamState, KalmanPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (field: String, rows: Iterator[(String, java.sql.Timestamp, Double)],
            state: GroupState[KalmanStreamState]) =>
          var st = state.getOption
            .getOrElse(KalmanStreamState(0.0, 0.0, Long.MinValue, 0L))
          val out = Seq.newBuilder[KalmanPoint]
          def micros(t: java.sql.Timestamp): Long =
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
          rows.toSeq.sortBy(r0 => micros(r0._2)).foreach { case (_, t, v) =>
            val us = micros(t)
            if (us >= st.lastUs) { // monotone guard: drop stale stragglers
              val (x, p, k) =
                if (st.n == 0L)
                  (graft.operators.Kalman.round6(v),
                    graft.operators.Kalman.round6(r), 1.0)
                else graft.operators.Kalman.step(st.x, st.p, v, q, r)
              st = KalmanStreamState(x, p, us, st.n + 1)
              out += KalmanPoint(field, us, v, x, p, k)
            }
          }
          if (st.n > 0L) state.update(st)
          out.result().iterator
      }
      .toDF()
  }

  /** Per-key alert state: the currently-open above-threshold episode. */
  case class AlertState(n: Long, fireUs: Long, clearUs: Long, peak: Double,
      lastUs: Long)

  /** One CLOSED alert episode (≥3 consecutive above-threshold points,
    * ended by a below-threshold observation). */
  case class AlertEpisode(_field: String, fire_us: Long, clear_us: Long,
      n_points: Long, peak: Double)

  /** Streaming FOR-DURATION ALERT RULES — the streaming twin of ts32's
    * Grafana/Prometheus pending-period contract: an alert FIRES at the
    * 3rd consecutive above-threshold point and CLEARS when a point drops
    * below; one episode row (fire, clear, count, peak) is emitted the
    * moment the closing observation arrives. State is one open episode
    * (4 longs + a double) per series — O(keys) however long the stream
    * runs. A still-open episode is withheld by construction (nothing has
    * closed it yet — gs17's discipline), which the oracle replays by
    * requiring a later below-threshold point. Sub-3-point blips are
    * discarded silently, exactly ts32's n >= 3 rule. Ordering semantics
    * are emaStream's (in-batch event-time order, monotone guard). */
  def alertStream(long: DataFrame, threshold: Double): DataFrame = {
    import long.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    long.select(col("_field"), col("_time"), col("_value"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AlertState, AlertEpisode](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (field: String, rows: Iterator[(String, java.sql.Timestamp, Double)],
            state: GroupState[AlertState]) =>
          var st = state.getOption
            .getOrElse(AlertState(0L, 0L, 0L, 0.0, Long.MinValue))
          val out = Seq.newBuilder[AlertEpisode]
          def micros(t: java.sql.Timestamp): Long =
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
          rows.toSeq.sortBy(r => micros(r._2)).foreach { case (_, t, v) =>
            val us = micros(t)
            if (us >= st.lastUs) { // monotone guard: drop stale stragglers
              if (v > threshold) {
                val n = st.n + 1
                st = AlertState(n,
                  if (n == 3L) us else st.fireUs, us,
                  if (n == 1L) v else math.max(st.peak, v), us)
              } else if (st.n < 3L || us > st.clearUs) {
                if (st.n >= 3L)
                  out += AlertEpisode(field, st.fireUs, st.clearUs, st.n, st.peak)
                st = AlertState(0L, 0L, 0L, 0.0, us)
              }
              // else: a below-threshold point TIED on the open episode's
              // last above-threshold ts — the oracle's closer must be
              // strictly later (b.ts_us > e.clear_us), so the episode
              // stays open and the tied point is withheld.
            }
          }
          state.update(st)
          out.result().iterator
      }
      .toDF()
  }

  /** Per-key rate state: the last applied observation. */
  case class RateState(lastUs: Long, lastValue: Double)

  /** One instantaneous rate per applied point after the first. */
  case class RatePoint(_field: String, ts_us: Long, value: Double,
      rate_per_s: Double)

  /** Streaming DERIVATIVE — the UNBOUNDED-series form of ts09's lag-window
    * rate (Flux `derivative(unit: 1s)`): per series the instantaneous rate
    * between consecutive observations, carried as ONE (ts, value) record
    * of keyed state — an infinite stream costs O(keys) state where the
    * batch form needs a sort-window over history. Numerics are EXACTLY
    * ts09's: dv, dt_us/1e6 and the quotient are each a single
    * correctly-rounded IEEE op, left unrounded, so the DuckDB lag replay
    * is bit-identical. Ordering semantics are emaStream's (event-time
    * order within a batch, monotone guard across batches), with a STRICT
    * guard: a same-timestamp point would mean dt = 0 — no rate exists —
    * so it neither emits nor advances state. The first point per series
    * seeds state silently, mirroring ts09's dt IS NOT NULL filter. */
  def rateStream(long: DataFrame): DataFrame = {
    import long.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    long.select(col("_field"), col("_time"), col("_value"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RateState, RatePoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (field: String, rows: Iterator[(String, java.sql.Timestamp, Double)],
            state: GroupState[RateState]) =>
          var st = state.getOption.getOrElse(RateState(Long.MinValue, 0.0))
          val out = Seq.newBuilder[RatePoint]
          def micros(t: java.sql.Timestamp): Long =
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
          rows.toSeq.sortBy(r => micros(r._2)).foreach { case (_, t, v) =>
            val us = micros(t)
            if (us > st.lastUs) { // strict: dt = 0 has no defined rate
              if (st.lastUs != Long.MinValue)
                out += RatePoint(field, us, v,
                  (v - st.lastValue) / ((us - st.lastUs).toDouble / 1000000.0))
              st = RateState(us, v)
            }
          }
          if (st.lastUs != Long.MinValue) state.update(st)
          out.result().iterator
      }
      .toDF()
  }

  /** Per-key run state: the currently-open status run (bucket, bounds,
    * count) — the whole SCD2 "current row" in four longs. */
  case class RunState(status: Long, startUs: Long, lastUs: Long, n: Long)

  /** One CLOSED status run — a finished validity interval. */
  case class ClosedRun(_field: String, status: Long, start_us: Long,
      end_us: Long, n_points: Long)

  /** Streaming STATE-RUN HISTORY — the streaming twin of ts17's
    * gaps-and-islands state durations, and the SCD2 shape of gs12's SCD1
    * upsert: each series tracks its current status bucket
    * (⌊value/10⌋ — the "which alert band is this sensor in" quantizer);
    * when a point lands in a DIFFERENT bucket, the open run closes and is
    * EMITTED as a finished validity interval (status, start, end,
    * n_points), and a new run opens. State is one 4-long run per series —
    * the streaming history table costs O(|series|) memory however long
    * the stream runs. The final still-open run is withheld by
    * construction (nothing ever closes it), which the oracle replays by
    * dropping each series' last island. Ordering semantics are
    * emaStream's: event-time order within a batch, monotone guard across
    * batches (stale stragglers drop — a closed interval is immutable
    * history). */
  def stateRuns(long: DataFrame): DataFrame = {
    import long.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    long.select(col("_field"), col("_time"), col("_value"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RunState, ClosedRun](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (field: String, rows: Iterator[(String, java.sql.Timestamp, Double)],
            state: GroupState[RunState]) =>
          def micros(t: java.sql.Timestamp): Long =
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
          var st = state.getOption.orNull
          val out = Seq.newBuilder[ClosedRun]
          rows.toSeq.sortBy(r => micros(r._2)).foreach { case (_, t, v) =>
            val us = micros(t)
            val b = math.floor(v / 10.0).toLong
            if (st == null) st = RunState(b, us, us, 1L)
            else if (us >= st.lastUs) {
              if (b == st.status) st = st.copy(lastUs = us, n = st.n + 1)
              else {
                out += ClosedRun(field, st.status, st.startUs, st.lastUs, st.n)
                st = RunState(b, us, us, 1L)
              }
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
      .toDF()
  }

  /** foreachBatch INCREMENTAL UPSERT — the streaming MERGE/SCD1 sink
    * ("keep the latest reading per key"): every micro-batch reduces to its
    * per-field argmax-by-time row, merges with the current keyed state
    * (union → one more argmax reduce) and commits a NEW VERSIONED state
    * directory `v<batchId>` (plain parquet has no transactional MERGE;
    * against Delta/Iceberg the same foreachBatch body becomes a real
    * MERGE INTO and the versioning disappears). Versioning makes the
    * at-least-once foreachBatch contract safe: a batch always READS the
    * newest version with id < its own batchId, so a crash-and-replay of
    * batch B (even one that half-wrote `vB`) re-merges against the exact
    * pre-B state instead of whatever a destructive swap left behind; the
    * half-written `vB` is discarded and rewritten. Only versions older
    * than the read source are garbage-collected, so the directory holds
    * at most two versions at rest. The reduce — `max(struct(_time,
    * _value))` per key — is associative and commutative, so the final
    * state is INDEPENDENT of how files split into micro-batches; state
    * size is O(keys), never stream length. */
  def upsertLatest(long: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    long.select(col("_field"), col("_time"), col("_value"))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertMergeBatch(batch, statePath, batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** One [[upsertLatest]] micro-batch merge — exposed so the at-least-once
    * replay contract is directly testable: calling it twice with the same
    * (batch, batchId) yields the same committed state as calling it once. */
  private[graft] def upsertMergeBatch(batch: DataFrame, statePath: String,
      batchId: Long): Unit = {
    def reduce(df: DataFrame): DataFrame =
      df.groupBy(col("_field"))
        .agg(max(struct(col("_time"), col("_value"))).as("b"))
        .select(col("_field"), col("b._time").as("_time"),
          col("b._value").as("_value"))
    val spark = batch.sparkSession
    val root = new java.io.File(statePath)
    root.mkdirs()
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree)
      f.delete(); ()
    }
    // Pre-batch state = newest committed version STRICTLY below this
    // batchId (a replay of batch B must not read B's own half-result).
    val versions = committedVersions(root)
    val prev = versions.filter(_ < batchId).sorted.lastOption
    val target = new java.io.File(root, s"v$batchId")
    if (target.exists) rmTree(target) // leftover from a failed attempt
    val merged = reduce(prev match {
      case Some(p) => reduce(batch)
        .unionByName(spark.read.parquet(new java.io.File(root, s"v$p").getPath))
      case None => batch
    })
    merged.write.mode("overwrite").parquet(target.getPath)
    // GC: anything older than the version we just read from can never
    // be needed again (replays only re-run batchIds >= this one).
    for (p <- prev; v <- versions if v < p) rmTree(new java.io.File(root, s"v$v"))
  }

  /** Committed state versions under an [[upsertLatest]] root — a version is
    * committed once parquet's own job commit drops `_SUCCESS` in it. */
  private def committedVersions(root: java.io.File): Seq[Long] = {
    val fs = Option(root.listFiles()).getOrElse(Array.empty)
    fs.toSeq.collect {
      case f if f.isDirectory && f.getName.startsWith("v") &&
        f.getName.drop(1).forall(_.isDigit) &&
        new java.io.File(f, "_SUCCESS").exists => f.getName.drop(1).toLong
    }
  }

  /** Path of the newest committed state version under an [[upsertLatest]]
    * root — what a reader of the upsert sink should scan. */
  def latestUpsertState(statePath: String): String = {
    val root = new java.io.File(statePath)
    val vs = committedVersions(root)
    require(vs.nonEmpty, s"no committed upsert state under $statePath")
    new java.io.File(root, s"v${vs.max}").getPath
  }

  /** KMV sketch for one open window: the ≤k smallest DISTINCT value
    * hashes (hex strings — lexicographic order ≡ numeric order of the
    * uniform hash) plus the cumulative row count for that window. */
  case class KmvState(hashes: Seq[String], nSeen: Long)

  /** One sketch snapshot, emitted per micro-batch per touched window.
    * The batch overlay keeps only the max-`n_seen` row per (field,
    * window) — the end-of-stream sketch, which is micro-batch-split
    * INVARIANT (the merged bottom-k of all data), so AvailableNow's
    * file batching can't leak into the result. */
  case class KmvRow(_field: String, w_us: Long, n_seen: Long,
      hashes: Seq[String])

  /** STREAMING KMV ("k minimum values", Bar-Yossef et al. 2002) DISTINCT
    * sketch on `transformWithState`, showcasing the API's `MapState`: the
    * map key is the 6 h window start, the value the window's bottom-k
    * hash sketch — state is FIXED at k hashes × open windows × fields by
    * construction, however many points stream through (the estimator's
    * whole point vs gs22's per-value histogram counters). Estimate read
    * (batch side): k < 16 distinct → exact k; else n̂ = (k−1)·2⁴⁸/h₍ₖ₎
    * on the first 12 hex digits. Values are clamped to the 512-cell
    * grid ⌊8v⌋ ∈ [0,512) so the oracle can replay hashing exactly. */
  class KmvProcessor(windowUs: Long, k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Long), KmvRow] {
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues, TTLConfig}
    @transient private var sketches: MapState[Long, KmvState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sketches = getHandle.getMapState[Long, KmvState]("kmv",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.product[KmvState], TTLConfig.NONE)

    private def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString

    /** The hash domain is the 512-cell value grid, so every possible MD5
      * is precomputable ONCE per processor — the round-11 streaming cost
      * ladder (SLADDER.json) caught per-row `MessageDigest.getInstance`
      * as gs27's dominant cost (274 s at the 8× rung, ~11× the 1× time;
      * the sketch math itself is O(1)/row). Same digests, same results. */
    @transient private lazy val gridHashes: Array[String] =
      Array.tabulate(512)(i => md5hex(i.toString))

    override def handleInputRows(field: String,
        rows: Iterator[(String, Long, Long)],
        timerValues: TimerValues): Iterator[KmvRow] = {
      val touched = scala.collection.mutable.LinkedHashMap.empty[Long, KmvState]
      rows.foreach { case (_, us, iv) =>
        val w = Math.floorDiv(us, windowUs) * windowUs
        val h = gridHashes(iv.toInt)
        val cur = touched.getOrElse(w,
          if (sketches.containsKey(w)) sketches.getValue(w)
          else KmvState(Nil, 0L))
        // bottom-k of the DISTINCT hash set, allocation-free in steady
        // state: hashes stay sorted ascending, so a full sketch rejects
        // any h ≥ last with one compare (~97% of rows at 512 cells/k=16)
        val cs = cur.hashes
        val hs =
          if (cs.contains(h)) cs
          else if (cs.size < k) (cs :+ h).sorted
          else if (h < cs.last) (cs :+ h).sorted.take(k)
          else cs
        touched(w) = KmvState(hs, cur.nSeen + 1)
      }
      touched.foreach { case (w, st) => sketches.updateValue(w, st) }
      touched.iterator.map { case (w, st) =>
        KmvRow(field, w, st.nSeen, st.hashes)
      }
    }
  }

  /** [[KmvProcessor]] over the long gas stream (RocksDB state store
    * required, as with [[cusumStreamTws]]). The µs conversion and the
    * 512-cell grid clamp run as codegen'd SQL BEFORE the typed boundary —
    * the SLADDER profile showed per-row JVM work inside the processor
    * (Timestamp decode, floor/clamp, hashing) dominating gs27's cost;
    * everything Catalyst can codegen should stay on the Catalyst side of
    * `transformWithState`, leaving the processor pure sketch maintenance.
    * `unix_micros` / `greatest(least(floor(v*8),511),0)` are the exact
    * integer forms the processor previously computed per row. */
  def kmvStream(long: DataFrame, windowUs: Long, k: Int): DataFrame = {
    import long.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    long.select(col("_field"), unix_micros(col("_time")).as("us"),
        greatest(least(floor(col("_value") * 8.0), lit(511L)), lit(0L))
          .cast("long").as("iv"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new KmvProcessor(windowUs, k),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** One sealed window, emitted by the TIMER path (not the data path):
    * exact integer aggregates in micro-units, the decimal-sum discipline
    * carried through typed state. */
  case class SealedWindow(_field: String, w_us: Long, n_points: Long,
      sum_micro: Long, min_micro: Long, max_micro: Long)

  /** Per-window running aggregate while the window is open. */
  case class WinAgg(cnt: Long, sum: Long, mn: Long, mx: Long)

  /** TIMER-SEALED tumbling windows on `transformWithState` — the third
    * leg of the TWS showcase (gs15 ValueState, gs27 MapState, here
    * EVENT-TIME TIMERS): rather than letting the built-in window
    * aggregate decide emission, the processor owns the protocol —
    * windows accumulate in MapState, a timer registered at each
    * window's END fires once the WATERMARK passes it, and the expired-
    * timer callback emits the sealed row and frees the state. This is
    * the building block for custom emission policies the declarative
    * window can't express (early partial emits, per-key deadlines,
    * speculative seals); here it reproduces gs22's append-mode seal
    * semantics exactly, which is what makes it oracle-checkable: a
    * window is emitted iff window_end ≤ max event time − the 30 min
    * watermark delay. Values enter PRE-CONVERTED to micro-unit longs
    * (the decimal cast runs in Catalyst, where it is the proven
    * cross-engine construct), so state and output are all-integer. */
  class TimerSealProcessor(windowUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, java.sql.Timestamp, Long), SealedWindow] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, TimeMode, TimerValues, TTLConfig}
    @transient private var wins: MapState[Long, WinAgg] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      wins = getHandle.getMapState[Long, WinAgg]("wins",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.product[WinAgg], TTLConfig.NONE)

    override def handleInputRows(field: String,
        rows: Iterator[(String, java.sql.Timestamp, Long)],
        timerValues: TimerValues): Iterator[SealedWindow] = {
      rows.foreach { case (_, t, micro) =>
        val us = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
        val w = Math.floorDiv(us, windowUs) * windowUs
        val had = wins.containsKey(w)
        val cur = if (had) wins.getValue(w)
          else WinAgg(0L, 0L, Long.MaxValue, Long.MinValue)
        wins.updateValue(w, WinAgg(cur.cnt + 1, cur.sum + micro,
          math.min(cur.mn, micro), math.max(cur.mx, micro)))
        // one timer per window, at its end (ms — the timer API's unit;
        // the 6 h grid divides ms exactly)
        if (!had) getHandle.registerTimer((w + windowUs) / 1000L)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(field: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SealedWindow] = {
      val w = expiredTimerInfo.getExpiryTimeInMs() * 1000L - windowUs
      if (wins.containsKey(w)) {
        val a = wins.getValue(w)
        wins.removeKey(w)
        Iterator.single(SealedWindow(field, w, a.cnt, a.sum, a.mn, a.mx))
      } else Iterator.empty
    }
  }

  /** [[TimerSealProcessor]] over the long gas stream: micro-unit
    * conversion in Catalyst, watermarked event time (timers need it),
    * RocksDB state store required. */
  def timerSealStream(long: DataFrame, windowUs: Long): DataFrame = {
    import long.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    long
      .withColumn("micro",
        (col("_value").cast("decimal(18,6)") * 1000000).cast("long"))
      .withWatermark("_time", "30 minutes")
      .select(col("_field"), col("_time"), col("micro"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .transformWithState(new TimerSealProcessor(windowUs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }
}
