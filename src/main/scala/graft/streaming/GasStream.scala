package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Offset
import org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog
import org.apache.spark.sql.execution.streaming.runtime.{FileStreamSourceLog,
  FileStreamSourceOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import scala.reflect.runtime.universe.TypeTag

import graft.ingest.GasIngest.DayFile
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

  /** Streaming read of the day-file directory with the pinned schema.
    *
    * `recursiveFileLookup` keeps each file to one read per micro-batch. The
    * file source re-reads a batch's files with path globbing off, and in
    * that mode Spark's path check returns EVERY path of the batch once for
    * each path that holds a glob metacharacter (`[`, `]`, `{`, `}`, `*`,
    * `?`): a batch holding `x[1].csv` read each of its other files twice,
    * and the user's `globPaths` option cannot change it. The recursive
    * lookup lists the batch's files by path, which drops the repeats. It
    * also lists `*.csv` files in subdirectories of `dir`, which
    * [[pipeline]] rejects. */
  def readStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 13): DataFrame =
    spark.readStream
      .schema(GasSchema.gasSchema)
      .option("header", "true")
      .option("pathGlobFilter", "*.csv")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(dir)
      .withColumn("file_name", element_at(split(input_file_name(), "/"), -1))

  /** Full streaming pipeline: transform → unpivot → date-partitioned store
    * via foreachBatch (the load stage, SURVEY.md §2.9). The checkpoint IS
    * the ledger: a re-run with the same checkpoint skips seen files.
    *
    * Each micro-batch scans its input once, inside the store write, like
    * [[graft.GasPipeline.runBatch]]. The sink takes the batch's files from
    * the checkpoint on the driver ([[batchFiles]]): their names key `_src`
    * and `_manifest`, so a file that yields no rows (header-only, or every
    * sample past 24 h) is recorded like the batch records it, and their
    * sizes set the writer count ([[LongStore.writersFor]]). foreachBatch is
    * at-least-once; a replay of batch N reads the same log entries, so it
    * re-commits the same files, and the store's per-file overwrite and
    * `_manifest`'s dedup make that a no-op.
    *
    * A file below a subdirectory of `inputDir` fails the batch before any
    * write, with its name: the batch pipeline reads only the directory's
    * own files, so the stream would load data the batch never does.
    *
    * The sink reads Spark-internal classes (`FileStreamSourceLog`,
    * `OffsetSeqLog`), pinned to the packages of Spark 4.1.2. */
  def pipeline(spark: SparkSession, inputDir: String, storePath: String,
      checkpoint: String): StreamingQuery = {
    val dir = new Path(inputDir)
    val top = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(dir)
    // file_name rides along as `_src` so the store's overwrite unit is one
    // source file — a day split across micro-batches by maxFilesPerTrigger
    // can no longer clobber the day partition written by an earlier trigger.
    GasTransform.toLong(readStream(spark, inputDir))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val files = batchFiles(batch.sparkSession, checkpoint, batchId)
        val nested = files.filter(_.path.getParent != top)
        if (nested.nonEmpty)
          throw new IllegalStateException(s"stream input below a subdirectory of $top: " +
            nested.map(_.path).mkString(", "))
        // the batch pipeline's own commit (GasPipeline.runBatch): data,
        // then manifest, so a stream-built store plans window queries
        // through LongStore.readWindow exactly like a batch-built one.
        if (files.nonEmpty)
          LongStore.commitBatch(batch, storePath, files.map(_.name),
            LongStore.writersFor(files.map(_.bytes).max), snapshot = false)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The day files of micro-batch `batchId`, from the checkpoint alone. The
    * offset log holds, per batch, the file source's end offset: the id of
    * its last source-log entry. The batch covers the entries after the
    * previous batch's end, up to its own; usually one, but more after a
    * crash between a source-log write and the offset-log write. The source
    * log lists each entry's files (its `get` also reads entries folded
    * into a `.compact` file), under the URL-encoded path whose last
    * segment `input_file_name()` yields. Sizes come from one FS metadata
    * call per file. */
  private def batchFiles(spark: SparkSession, checkpoint: String,
      batchId: Long): Seq[DayFile] = {
    val offsets = new OffsetSeqLog(spark, s"$checkpoint/offsets")
    def end(id: Long): Long =
      (if (id < 0) None else offsets.get(id)).flatMap(_.offsets.head)
        .fold(-1L)(o => FileStreamSourceOffset(o.asInstanceOf[Offset]).logOffset)
    val (first, last) = (end(batchId - 1) + 1, end(batchId))
    if (first > last) Nil
    else {
      val log = new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark,
        s"$checkpoint/sources/0")
      log.get(Some(first), Some(last)).toSeq.flatMap(_._2).map { e =>
        val p = SparkPath.fromUrlString(e.path).toPath
        val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getLen
        DayFile(e.path.split('/').last, p, bytes)
      }.sortBy(_.name)
    }
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
          val ts = rows.map(r => micros(r._2)).toArray.sorted
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

  /** Full-microsecond event time: `getTime` alone truncates to ms. */
  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** One point as a [[perKeyFold]] step sees it: the group key, the point's
    * event time (µs), value and order tag, and the key's last applied event
    * time (`Long.MinValue` before the key's first point). */
  private case class Pt(key: String, us: Long, v: Double, tag: Int, lastUs: Long)

  /** The one per-key sequential fold behind the streaming kernels (EMA,
    * CUSUM, Kalman, alert, rate, state runs, as-of enrich), on Structured
    * Streaming's user-defined stateful operator (`flatMapGroupsWithState`,
    * Append, no timeout). Per key and micro-batch it:
    *  - sorts the group by (event time in µs, `tag`), stably, so points
    *    tied on both keep their arrival order;
    *  - applies a point iff its time is ≥ the key's last applied time (the
    *    monotone guard: a straggler older than that is dropped, since a
    *    sequential recursion cannot be re-run backwards — ts21/ts26/ts30
    *    are the exact batch forms when order matters after the fact);
    *  - keeps that last time beside the kernel's state `S`, and updates the
    *    state iff a point applied.
    * `step` maps (state, point) to the next state and at most one output
    * row. Kernels pass a constant `tag`, except where points of one
    * instant need an order (as-of enrich: context before target).
    *
    * API choice: `transformWithState` requires the RocksDB state store
    * provider (AnalysisException on the default HDFS-backed store), so each
    * query would have to pin the provider on a child session, and its
    * richer state (named handles, several Value/List/MapStates per
    * processor, TTL, timers) buys nothing for one case-class value per key:
    * a processor body is line for line this fold. So the fold runs on
    * `flatMapGroupsWithState`, on either provider; transformWithState is
    * used where its features are (MapState in [[KmvProcessor]], timers in
    * [[TimerSealProcessor]]).
    *
    * Memory bound: the fold materializes and sorts ONE key's share of ONE
    * micro-batch (the operator gives no secondary-sort contract, so the
    * event-time order is imposed here): O(max rows per key per micro-batch)
    * × ~40 B/row. Under a rate source or continuous trigger that is rate ×
    * trigger interval per key, a few thousand rows at any realistic rate.
    * The degenerate corner is Trigger.AvailableNow over a one-key backlog
    * (as-of enrich keys by measurement, and the fixture has one): the whole
    * input is one key's one batch, 2.4 M rows ≈ 100 MB at the 28–112 Hz
    * SLADDER rungs. Bound a bigger replay with maxFilesPerTrigger or a rate
    * limit. */
  private def perKeyFold[S: TypeTag, O <: Product : TypeTag](rows: DataFrame,
      key: String, tag: Column, init: S)(step: (S, Pt) => (S, Option[O])): DataFrame = {
    import rows.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    rows.select(col(key), col("_time"), col("_value"), tag)
      .as[(String, java.sql.Timestamp, Double, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(S, Long), O](OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (k: String, group: Iterator[(String, java.sql.Timestamp, Double, Int)],
            state: GroupState[(S, Long)]) =>
          var (st, lastUs) = state.getOption.getOrElse((init, Long.MinValue))
          var applied = false
          val out = Seq.newBuilder[O]
          group.map(r => (micros(r._2), r._4, r._3)).toArray
            .sortBy(p => (p._1, p._2)) // a stable sort
            .foreach { case (us, t, v) =>
              if (us >= lastUs) {
                val (next, o) = step(st, Pt(k, us, v, t, lastUs))
                st = next; lastUs = us; applied = true
                out ++= o
              }
            }
          if (applied) state.update((st, lastUs))
          out.result().iterator
      }
      .toDF()
  }

  /** Per-series EMA state: the last smoothed value and the points applied. */
  case class EmaState(ema: Double, n: Long)

  /** One smoothed point emitted per applied input point. */
  case class EmaPoint(_field: String, ts_us: Long, value: Double, ema: Double, n: Long)

  /** Streaming exponential moving average — the UNBOUNDED-series form of
    * ts21's closed-form batch EMA (PLANS.md): y_1 = x_1,
    * y_i = k·x_i + (1−k)·y_{i−1}, carried as one tiny record of keyed
    * state per series, so an infinite stream costs O(keys) state and zero
    * re-reads. Ordering is [[perKeyFold]]'s: event-time order within a
    * batch, a straggler older than the last applied point is dropped (the
    * alternative — buffering the watermark horizon per key — buys exact
    * replay at gap-fill cost). StatefulStreamSpec pins stream ≡ recursion
    * across batches and the straggler drop. */
  def emaStream(long: DataFrame, k: Double = 0.2): DataFrame =
    perKeyFold(long, "_field", lit(0), EmaState(0.0, 0L)) { (st, p) =>
      val y = if (st.n == 0L) p.v else k * p.v + (1 - k) * st.ema
      (EmaState(y, st.n + 1), Some(EmaPoint(p.key, p.us, p.v, y, st.n + 1)))
    }

  /** Per-series CUSUM detector state: both cumulative sides and the alarm. */
  case class CusumState(sp: Double, sn: Double, alarm: Boolean)

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
    * window, detection online). Ordering is [[perKeyFold]]'s. */
  def cusumStream(long: DataFrame, mu: Double, k: Double,
      h: Double): DataFrame =
    perKeyFold(long, "_field", lit(0), CusumState(0.0, 0.0, alarm = false)) { (st, p) =>
      val (sp, sn, alarm) =
        graft.operators.Cusum.step(st.sp, st.sn, st.alarm, p.v, mu, k, h)
      (CusumState(sp, sn, alarm), Some(CusumPoint(p.key, p.us, p.v, sp, sn, alarm)))
    }

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
    * target stream and state is ONE (time, value) per key, so BOTH are
    * linear in rate where the interval join's result is quadratic — this
    * is the shape that survives sensor-fusion rates (the 112 Hz census
    * rung that excludes gs08/gs13 by semantics).
    *
    * Only context readings whose value passes the `ctxMin` validity floor
    * (gs13's threshold shape) enter state, so targets reach BACK over
    * invalid ones. Keyed by `_measurement`, the long model's co-location
    * key: a measurement's readings meet on one state partition, and
    * parallelism scales with measurement (sensor) cardinality. Ordering is
    * [[perKeyFold]]'s, with the context sorting BEFORE the target at the
    * same instant (as-of uses ≤, and in the wide source both fields of one
    * sample share a timestamp). There is NO watermark cutoff to replay:
    * every target row emits immediately, exactly once, so the DuckDB
    * oracle is the plain as-of join over the raw CSVs. The guard's ≥ lets
    * an exactly-redelivered target through, so at-least-once sources need
    * [[dedupeStream]] upstream (gs35). */
  def lastValueEnrichStream(long: DataFrame, targetField: String,
      contextField: String, ctxMin: Double): DataFrame =
    perKeyFold(
      long.filter(col("_field") === targetField ||
        (col("_field") === contextField && col("_value") >= ctxMin)),
      "_measurement", when(col("_field") === contextField, 0).otherwise(1),
      Option.empty[(Long, Double)]) { (ctx, p) =>
      if (p.tag == 0) (Some((p.us, p.v)), None)
      else (ctx, Some(EnrichedPoint(p.us, p.v, ctx.map(_._1), ctx.map(_._2))))
    }

  /** Per-series Kalman state: estimate + variance. */
  case class KalmanStreamState(x: Double, p: Double)

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
    * Ordering is [[perKeyFold]]'s. */
  def kalmanStream(long: DataFrame, q: Double, r: Double): DataFrame =
    perKeyFold(long, "_field", lit(0), KalmanStreamState(0.0, 0.0)) { (st, pt) =>
      val (x, p, k) =
        if (pt.lastUs == Long.MinValue) // first point: x₁ = z₁, P₁ = R
          (graft.operators.Kalman.round6(pt.v), graft.operators.Kalman.round6(r), 1.0)
        else graft.operators.Kalman.step(st.x, st.p, pt.v, q, r)
      (KalmanStreamState(x, p), Some(KalmanPoint(pt.key, pt.us, pt.v, x, p, k)))
    }

  /** Per-series alert state: the currently-open above-threshold run (its
    * last point's time, the clear time, is the fold's last applied time). */
  case class AlertState(n: Long, fireUs: Long, peak: Double)

  /** One CLOSED alert episode (≥3 consecutive above-threshold points,
    * ended by a below-threshold observation). */
  case class AlertEpisode(_field: String, fire_us: Long, clear_us: Long,
      n_points: Long, peak: Double)

  /** Streaming FOR-DURATION ALERT RULES — the streaming twin of ts32's
    * Grafana/Prometheus pending-period contract: an alert FIRES at the
    * 3rd consecutive above-threshold point and CLEARS when a point drops
    * below; one episode row (fire, clear, count, peak) is emitted the
    * moment the closing observation arrives. State is one open episode
    * per series — O(keys) however long the stream runs. A still-open
    * episode is withheld by construction (nothing has closed it yet —
    * gs17's discipline), which the oracle replays by requiring a later
    * below-threshold point. Sub-3-point blips are discarded silently,
    * exactly ts32's n >= 3 rule. Ordering is [[perKeyFold]]'s. */
  def alertStream(long: DataFrame, threshold: Double): DataFrame =
    perKeyFold(long, "_field", lit(0), AlertState(0L, 0L, 0.0)) { (st, p) =>
      if (p.v > threshold) {
        val n = st.n + 1
        (AlertState(n, if (n == 3L) p.us else st.fireUs,
          if (n == 1L) p.v else math.max(st.peak, p.v)), None)
      } else if (st.n >= 3L && p.us == p.lastUs)
        // a below-threshold point TIED on the open episode's clear time:
        // the oracle's closer must be strictly later (b.ts_us >
        // e.clear_us), so the episode stays open and the point is withheld
        (st, None)
      else (AlertState(0L, 0L, 0.0),
        if (st.n >= 3L) Some(AlertEpisode(p.key, st.fireUs, p.lastUs, st.n, st.peak))
        else None)
    }

  /** One instantaneous rate per applied point after the first. */
  case class RatePoint(_field: String, ts_us: Long, value: Double,
      rate_per_s: Double)

  /** Streaming DERIVATIVE — the UNBOUNDED-series form of ts09's lag-window
    * rate (Flux `derivative(unit: 1s)`): per series the instantaneous rate
    * between consecutive observations, carried as the last value (its time
    * is the fold's last applied time) — an infinite stream costs O(keys)
    * state where the batch form needs a sort-window over history. Numerics
    * are EXACTLY ts09's: dv, dt_us/1e6 and the quotient are each a single
    * correctly-rounded IEEE op, left unrounded, so the DuckDB lag replay is
    * bit-identical. Ordering is [[perKeyFold]]'s, with a STRICT guard: a
    * same-timestamp point would mean dt = 0 — no rate exists — so it
    * neither emits nor changes state. The first point per series seeds
    * state silently, mirroring ts09's dt IS NOT NULL filter. */
  def rateStream(long: DataFrame): DataFrame =
    perKeyFold(long, "_field", lit(0), 0.0) { (last, p) =>
      if (p.us == p.lastUs) (last, None)
      else (p.v,
        if (p.lastUs == Long.MinValue) None
        else Some(RatePoint(p.key, p.us, p.v,
          (p.v - last) / ((p.us - p.lastUs).toDouble / 1000000.0))))
    }

  /** Per-series run state: the currently-open status run (bucket, start,
    * count; its end is the fold's last applied time) — the whole SCD2
    * "current row". */
  case class RunState(status: Long, startUs: Long, n: Long)

  /** One CLOSED status run — a finished validity interval. */
  case class ClosedRun(_field: String, status: Long, start_us: Long,
      end_us: Long, n_points: Long)

  /** Streaming STATE-RUN HISTORY — the streaming twin of ts17's
    * gaps-and-islands state durations, and the SCD2 shape of gs12's SCD1
    * upsert: each series tracks its current status bucket
    * (⌊value/10⌋ — the "which alert band is this sensor in" quantizer);
    * when a point lands in a DIFFERENT bucket, the open run closes and is
    * EMITTED as a finished validity interval (status, start, end,
    * n_points), and a new run opens. State is one run per series — the
    * streaming history table costs O(|series|) memory however long the
    * stream runs. The final still-open run is withheld by construction
    * (nothing ever closes it), which the oracle replays by dropping each
    * series' last island. Ordering is [[perKeyFold]]'s (stale stragglers
    * drop — a closed interval is immutable history). */
  def stateRuns(long: DataFrame): DataFrame =
    perKeyFold(long, "_field", lit(0), RunState(0L, 0L, 0L)) { (st, p) =>
      val b = math.floor(p.v / 10.0).toLong
      if (p.lastUs != Long.MinValue && b == st.status) (st.copy(n = st.n + 1), None)
      else (RunState(b, p.us, 1L), // the first point, or a band change, opens a run
        if (p.lastUs == Long.MinValue) None
        else Some(ClosedRun(p.key, st.status, st.startUs, p.lastUs, st.n)))
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

  /** [[KmvProcessor]] over the long gas stream (transformWithState: the
    * RocksDB state store is required). The µs conversion and the
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

  /** TIMER-SEALED tumbling windows on `transformWithState` — the second
    * leg of the TWS showcase (gs27 MapState, here EVENT-TIME TIMERS):
    * rather than letting the built-in window aggregate decide emission,
    * the processor owns the protocol — windows accumulate in MapState, a
    * timer registered at each window's END fires once the WATERMARK
    * passes it, and the expired-timer callback emits the sealed row and frees the state. This is
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
        val w = Math.floorDiv(micros(t), windowUs) * windowUs
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
