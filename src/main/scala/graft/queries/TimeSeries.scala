package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin
import graft.sources.Tables

/** The reference's query surface, re-expressed natively (SURVEY.md §2.11).
  *
  * The reference delegates all queries to InfluxDB/Flux + Grafana over the
  * long point model `(time, _measurement, _field, _value, tags…)`. The
  * driver's `events` table `(ts, event_type, value)` is structurally that
  * model (FIXTURES.md §B), so the Flux shapes — field filter (README.md:226),
  * dashboard-variable field filter (README.md:243), time-range scan
  * (README.md:222-224) and `aggregateWindow` downsampling (README.md:249-251,
  * implied) — are registered here over `events`, each with a DuckDB oracle.
  *
  * Scale notes: field/time filters are pushed into the parquet scan (at
  * 100 TB the store is date-partitioned parquet, so the time-range filter
  * becomes partition pruning — see graft.store). Downsampling is a single
  * partial+final hash aggregate keyed on (bucket, field): no shuffle wider
  * than the output. The as-of join and sessionization each cost exactly one
  * shuffle on the entity key.
  */
object TimeSeries {

  private def ev(s: SparkSession, dir: String) = Tables.table(s, dir, "events")

  /** Q1/Q2: Flux `filter(fn: (r) => r["_field"] == <field>)` — the field is a
    * runtime parameter exactly like the Grafana dashboard variable. */
  def fieldFilter(events: DataFrame, field: String): DataFrame =
    events.filter(col("event_type") === field)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("value"))
      .orderBy(col("event_id"))

  /** Q3: Flux `range(start, stop)` — inclusive start, exclusive stop. */
  def timeRange(events: DataFrame, startIso: String, stopIso: String): DataFrame =
    events.filter(col("ts") >= lit(startIso).cast("timestamp") &&
      col("ts") < lit(stopIso).cast("timestamp"))

  /** Q4: Flux/Grafana `aggregateWindow(every: interval, fn: mean)` over each
    * field — tumbling windows aligned to the epoch, like date_trunc. */
  def aggregateWindow(events: DataFrame, every: String): DataFrame =
    events
      .groupBy(window(col("ts"), every).as("w"), col("event_type"))
      .agg(
        avgExact(col("value")).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        count(lit(1)).as("n"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("avg_value"), col("min_value"), col("max_value"), col("n"))
      .orderBy(col("bucket"), col("event_type"))

  /** The Prometheus linear-interpolation median over le0..le4/n_total —
    * identical text runs in Spark SQL and (with CAST syntax shared) DuckDB,
    * so both engines evaluate the same IEEE expression tree. */
  private val histQuantileSql: String =
    """CASE
      |  WHEN 2 * le0 >= n_total THEN
      |    1.0 * (CAST(0.5 AS DOUBLE) * n_total) / le0
      |  WHEN 2 * le1 >= n_total THEN
      |    1.0 + (5.0 - 1.0) * (CAST(0.5 AS DOUBLE) * n_total - le0) / (le1 - le0)
      |  WHEN 2 * le2 >= n_total THEN
      |    5.0 + (25.0 - 5.0) * (CAST(0.5 AS DOUBLE) * n_total - le1) / (le2 - le1)
      |  WHEN 2 * le3 >= n_total THEN
      |    25.0 + (125.0 - 25.0) * (CAST(0.5 AS DOUBLE) * n_total - le2) / (le3 - le2)
      |  WHEN 2 * le4 >= n_total THEN
      |    125.0 + (625.0 - 125.0) * (CAST(0.5 AS DOUBLE) * n_total - le3) / (le4 - le3)
      |  ELSE 625.0
      |END""".stripMargin

  /** The ts15/ts16 cumulative bucket aggregate in DuckDB form — the same
    * conditional sums the Spark side computes in [[histCounts]]. */
  private val histCountsSql: String =
    """SELECT event_type,
      |    SUM(CASE WHEN value <= 1.0 THEN 1 ELSE 0 END) AS le0,
      |    SUM(CASE WHEN value <= 5.0 THEN 1 ELSE 0 END) AS le1,
      |    SUM(CASE WHEN value <= 25.0 THEN 1 ELSE 0 END) AS le2,
      |    SUM(CASE WHEN value <= 125.0 THEN 1 ELSE 0 END) AS le3,
      |    SUM(CASE WHEN value <= 625.0 THEN 1 ELSE 0 END) AS le4,
      |    COUNT(*) AS n_total
      |  FROM events GROUP BY event_type""".stripMargin

  /** digit → Benford log₁₀(1+1/d) probability as a CASE over shared
    * literal spellings — embedded VERBATIM in the ts66 oracle (both
    * engines parse the same decimal literal to the same double on
    * promotion). */
  private val BenfordPCase: String =
    "case digit when 1 then 0.301029995663981" +
      " when 2 then 0.176091259055681 when 3 then 0.1249387366083" +
      " when 4 then 0.096910013008056 when 5 then 0.079181246047625" +
      " when 6 then 0.066946789630613 when 7 then 0.057991946977687" +
      " when 8 then 0.051152522447381 else 0.045757490560675 end"

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("ts01_field_filter", (s, dir) => fieldFilter(ev(s, dir), "purchase"),
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, value
        |FROM events WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),

    QuerySpec("ts02_time_range", (s, dir) =>
      timeRange(ev(s, dir), "2024-01-10 00:00:00", "2024-01-20 00:00:00")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total_value"))
        .orderBy(col("event_type")),
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    QuerySpec("ts03_downsample_1h", (s, dir) => aggregateWindow(ev(s, dir), "1 hour"),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value, COUNT(*) AS n
        |FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type""".stripMargin),

    // as-of join: each purchase picks up the most recent preceding error of
    // the same user (inclusive), the canonical sensor-enrichment shape
    QuerySpec("ts04_asof_join", (s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("err_event_id"))
      AsOfJoin.joinAsOf(purchases, errors, "user_id", "ts", "ts",
          Seq("err_event_id"), prefix = "")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("err_event_id").as("last_error_id"))
        .orderBy(col("event_id"))
    },
      """SELECT a.event_id, a.user_id, epoch_us(a.ts) AS ts_us, a.value,
        |  b.event_id AS last_error_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') a
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') b
        |  ON a.user_id = b.user_id AND a.ts >= b.ts
        |ORDER BY a.event_id""".stripMargin),

    // sessionization with a 30-minute inactivity gap per user
    QuerySpec("ts05_sessionize", (s, dir) => {
      val sessions = ev(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      sessions.groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("n_events")).as("max_session_events"))
        .orderBy(col("user_id"))
    },
      """WITH d AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d),
        |g AS (SELECT user_id, sid, COUNT(*) AS n FROM s GROUP BY user_id, sid)
        |SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events,
        |  MAX(n) AS max_session_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),

    // gap-fill + forward-fill interpolation (Flux `fill(usePrevious:)`):
    // a generated hourly spine per field, left-joined to the downsampled
    // series, missing buckets forward-filled from the last observation.
    // The spine is derived per-field from min/max (tiny aggregate), the
    // join keys on (field, bucket), and the fill is one window pass —
    // all linear, one shuffle each.
    QuerySpec("ts07_gap_fill", (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(avgExact(col("value")).as("v"))
      val spine = hourly.groupBy(col("event_type"))
        .agg(min(col("bucket")).as("mn"), max(col("bucket")).as("mx"))
        .select(col("event_type"),
          explode(expr("sequence(mn, mx, INTERVAL 1 HOUR)")).as("bucket"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("event_type", "bucket"), "left")
        .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
        .withColumn("filled", col("v").isNull)
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("event_type"), col("v_filled"), col("filled"))
        .orderBy(col("event_type"), col("bucket"))
    },
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS bucket, event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS v
        |  FROM events GROUP BY bucket, event_type),
        |rng AS (SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx
        |        FROM hourly GROUP BY event_type),
        |spine AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
        |          FROM rng),
        |j AS (SELECT s.event_type, s.bucket, h.v
        |      FROM spine s LEFT JOIN hourly h ON s.event_type = h.event_type AND s.bucket = h.bucket)
        |SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
        |  v IS NULL AS filled
        |FROM j ORDER BY event_type, bucket""".stripMargin),

    // inter-arrival gap statistics per user (lag over event time)
    QuerySpec("ts06_gap_stats", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_gaps"),
          max(col("gap_us")).as("max_gap_us"),
          (sum(col("gap_us")).cast("double") / (count(lit(1)) * lit(1000000.0))).as("avg_gap_s"))
        .orderBy(col("user_id"))
    },
      """WITH d AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_gaps, MAX(gap_us) AS max_gap_us,
        |  CAST(SUM(gap_us) AS DOUBLE) / (COUNT(*) * 1000000.0) AS avg_gap_s
        |FROM d WHERE gap_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Flux `movingAverage(n: 3)` over the downsampled series: a trailing
    // 3-bucket rows-frame window per field. The frame sum goes through the
    // exact-decimal recipe so sliding-frame evaluation order (Spark folds,
    // DuckDB may use a segment tree) can't perturb the float result.
    QuerySpec("ts08_moving_avg", (s, dir) => {
      // both means are integer-micro half-up ([[halfUpMean6]]): a double
      // round(sx/n, 6) is engine-dependent at exact half-way quotients
      val hourly = ev(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("nh"), sum(sumExactCol(col("value"))).as("sh"))
        .withColumn("v", halfUpMean6("sh", "nh"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(-2, 0)
      hourly
        .withColumn("sw", sum(sumExactCol(col("v"))).over(w))
        .withColumn("cw", count(lit(1)).over(w))
        .withColumn("mov_avg", halfUpMean6("sw", "cw"))
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("event_type"), col("v"), col("mov_avg"))
        .orderBy(col("event_type"), col("bucket"))
    },
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS bucket, event_type,
        |    CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |          + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS v
        |  FROM events GROUP BY bucket, event_type)
        |SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, event_type, v,
        |  CAST((2 * CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER w * 1000000 AS BIGINT)
        |        + COUNT(*) OVER w) // (2 * COUNT(*) OVER w) AS DOUBLE)
        |    / 1000000.0 AS mov_avg
        |FROM hourly
        |WINDOW w AS (PARTITION BY event_type ORDER BY bucket
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, bucket""".stripMargin),

    // time-RANGE window frame (vs ts08's rows frame): for every event, the
    // exact-decimal sum of the same field's values in the trailing hour —
    // value-based frames include timestamp peers identically in both
    // engines, so results are deterministic under ties.
    QuerySpec("ts10_trailing_window", (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0)
      ev(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("trail_1h_sum",
          sum(sumExactCol(col("value"))).over(w).cast("double"))
        .withColumn("trail_1h_n", count(lit(1)).over(w))
        .select(col("event_type"), col("ts_us"), col("event_id"), col("value"),
          col("trail_1h_sum"), col("trail_1h_n"))
        .orderBy(col("event_type"), col("ts_us"), col("event_id"))
    },
      """SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS trail_1h_sum,
        |  COUNT(*) OVER w AS trail_1h_n
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, ts_us, event_id""".stripMargin),

    // Flux `derivative(unit: 1s)`: per-user instantaneous rate between
    // consecutive events — one lag window, one shuffle on the key.
    // The rate is left UNROUNDED: subtraction, the dt_us/1e6 division and
    // the final quotient are each a single correctly-rounded IEEE-754 op,
    // so both engines produce bit-identical doubles. (A round(x, 6) here
    // diverges: Spark rounds the exact binary expansion via BigDecimal
    // HALF_UP while DuckDB rounds via scaled nearbyint.)
    QuerySpec("ts09_derivative", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("dv", col("value") - lag(col("value"), 1).over(w))
        .withColumn("dt_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("dt_us").isNotNull && col("dt_us") > 0)
        .withColumn("rate_per_s",
          col("dv") / (col("dt_us").cast("double") / 1000000.0))
        .select(col("user_id"), col("ts_us"), col("event_id"), col("rate_per_s"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    value - lag(value) OVER w AS dv,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt_us
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, ts_us, event_id,
        |  dv / (CAST(dt_us AS DOUBLE) / 1000000.0) AS rate_per_s
        |FROM d WHERE dt_us IS NOT NULL AND dt_us > 0
        |ORDER BY user_id, ts_us, event_id""".stripMargin),

    // Flux `timeWeightedAvg` / `integral`: per field, each observation is
    // weighted by the time until the NEXT observation (last-observation-
    // carried-forward segments, the Influx definition). One lead window +
    // one hash aggregate — a single shuffle on the field key. Numerics:
    // value is exact at scale 6, dt_us is an exact long, so the per-segment
    // weight value·dt_us is an EXACT decimal product and the sum is
    // order-independent; the only float ops are the two final divisions
    // (single correctly-rounded IEEE ops, bit-identical across engines).
    QuerySpec("ts11_time_weighted_avg", (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
      ev(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("dt_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .filter(col("dt_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_segments"),
          sum(sumExactCol(col("value")) * col("dt_us")).as("wsum"),
          sum(col("dt_us")).as("span_us"))
        .select(col("event_type"), col("n_segments"),
          (col("span_us").cast("double") / lit(1000000.0)).as("span_s"),
          (col("wsum").cast("double") / col("span_us").cast("double")).as("twa"))
        .orderBy(col("event_type"))
    },
      """WITH t AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, value,
        |    lead(epoch_us(ts)) OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS dt_us
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_segments,
        |  CAST(SUM(dt_us) AS DOUBLE) / 1000000.0 AS span_s,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6)) * dt_us) AS DOUBLE)
        |    / CAST(SUM(dt_us) AS DOUBLE) AS twa
        |FROM t WHERE dt_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Flux `interpolate.linear`: ts07's hourly spine, but missing buckets
    // get the LINEAR blend of the bracketing observations instead of the
    // previous value — v0 + (v1−v0)·(t−t0)/(t1−t0); buckets outside the
    // first/last observation stay NULL (nothing to bracket). Two window
    // passes over the spine (backward carry + forward carry) on the same
    // (field, bucket) ordering — same single-shuffle shape as ts07. The
    // blend is three IEEE ops on exact inputs (the fraction's operands are
    // exact longs), so both engines emit identical bits.
    QuerySpec("ts12_interpolate_linear", (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("nh"), sum(sumExactCol(col("value"))).as("sh"))
        .withColumn("v", halfUpMean6("sh", "nh"))
        .drop("nh", "sh")
      val spine = hourly.groupBy(col("event_type"))
        .agg(min(col("bucket")).as("mn"), max(col("bucket")).as("mx"))
        .select(col("event_type"),
          explode(expr("sequence(mn, mx, INTERVAL 1 HOUR)")).as("bucket"))
      val wb = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(hourly, Seq("event_type", "bucket"), "left")
        .withColumn("t_us", unix_micros(col("bucket")))
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wb))
        .withColumn("pt",
          last(when(col("v").isNotNull, col("t_us")), ignoreNulls = true).over(wb))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wf))
        .withColumn("nt",
          first(when(col("v").isNotNull, col("t_us")), ignoreNulls = true).over(wf))
        .withColumn("v_interp",
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              col("pv") + (col("nv") - col("pv")) *
                ((col("t_us") - col("pt")).cast("double") /
                  (col("nt") - col("pt")).cast("double"))))
        .withColumn("interpolated", col("v").isNull)
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("event_type"), col("v"), col("v_interp"), col("interpolated"))
        .orderBy(col("event_type"), col("bucket"))
    },
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS bucket, event_type,
        |    CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |          + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS v
        |  FROM events GROUP BY bucket, event_type),
        |rng AS (SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx
        |        FROM hourly GROUP BY event_type),
        |spine AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
        |          FROM rng),
        |j AS (SELECT s.event_type, s.bucket, epoch_us(s.bucket) AS t_us, h.v
        |      FROM spine s LEFT JOIN hourly h ON s.event_type = h.event_type AND s.bucket = h.bucket),
        |x AS (SELECT *,
        |    last_value(v IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS) OVER wb AS pt,
        |    first_value(v IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS) OVER wf AS nt
        |  FROM j
        |  WINDOW wb AS (PARTITION BY event_type ORDER BY bucket
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wf AS (PARTITION BY event_type ORDER BY bucket
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, event_type, v,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |         pv + (nv - pv) * (CAST(t_us - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
        |  END AS v_interp,
        |  v IS NULL AS interpolated
        |FROM x ORDER BY event_type, bucket""".stripMargin),

    // Flux `increase()`: monotonic-counter total per series. Each step
    // contributes (v − prev) when the counter moved forward, or v itself
    // when v < prev — the Influx reset rule: a decrease means the counter
    // restarted from 0, so the whole new value is growth. The running total
    // never decreases, which is what makes it safe to `derivative` or
    // downsample afterwards. One lag window + one running sum over the same
    // (series, time) ordering — a single shuffle on the series key, exactly
    // ts09's shape. Numerics: contributions are exact decimals (value has
    // ≤ 2 fractional digits), so the running sum is order-independent and
    // the final cast to double is one deterministic conversion per row.
    QuerySpec("ts13_increase", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("prev", lag(sumExactCol(col("value")), 1).over(w))
        .withColumn("contrib",
          when(col("prev").isNull, lit(null))
            .when(sumExactCol(col("value")) >= col("prev"),
              sumExactCol(col("value")) - col("prev"))
            .otherwise(sumExactCol(col("value"))))
        .withColumn("increase",
          coalesce(sum(col("contrib")).over(run), lit(0)).cast("double"))
        .select(col("user_id"), col("ts_us"), col("event_id"), col("value"),
          col("increase"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },
      """WITH w AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
        |    lag(CAST(value AS DECIMAL(18,6))) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |c AS (SELECT *,
        |    CASE WHEN prev IS NULL THEN NULL
        |         WHEN CAST(value AS DECIMAL(18,6)) >= prev
        |           THEN CAST(value AS DECIMAL(18,6)) - prev
        |         ELSE CAST(value AS DECIMAL(18,6)) END AS contrib
        |  FROM w)
        |SELECT user_id, ts_us, event_id, value,
        |  CAST(COALESCE(SUM(contrib) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS DOUBLE)
        |    AS increase
        |FROM c ORDER BY user_id, ts_us, event_id""".stripMargin),

    // Flux `pearsonr(x:, y:, on: ["_time"])` — cross-series correlation:
    // align two fields on a common hourly bucket (inner join keeps only
    // buckets where BOTH series observed points, Flux's join-then-correlate
    // shape), then Pearson r over the aligned pairs. Numerics: the five
    // moment sums (Σx, Σy, Σxy, Σx², Σy²) are accumulated as EXACT decimals
    // (values have ≤6 fractional digits, so products are exact at scale 12
    // and sums are order-independent — shuffle-safe), cast to double once,
    // and r is assembled with one fixed IEEE expression tree that the
    // oracle mirrors token-for-token. Scale shape: one hash agg per series
    // keyed on the bucket, one equi-join on the bucket key, then a single
    // partial+final global aggregate — nothing wider than the bucket
    // cardinality ever shuffles.
    QuerySpec("ts14_pearson_corr", (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(sum(sumExactCol(col("value"))).as("v")) // stays decimal: no double round-trip
      val x = hourly.filter(col("event_type") === "purchase")
        .select(col("bucket"), col("v").cast("decimal(18,6)").as("x"))
      val y = hourly.filter(col("event_type") === "view")
        .select(col("bucket"), col("v").cast("decimal(18,6)").as("y"))
      x.join(y, "bucket")
        .agg(
          count(lit(1)).as("n_buckets"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"),
          sum(col("x") * col("x")).cast("double").as("sxx"),
          sum(col("y") * col("y")).cast("double").as("syy"))
        .select(col("n_buckets"),
          round((col("n_buckets").cast("double") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n_buckets").cast("double") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n_buckets").cast("double") * col("syy") - col("sy") * col("sy"))), 6)
            .as("pearson_r"))
    },
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS bucket, event_type,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS v
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  -- DECIMAL(19,6), not (18,6): DuckDB multiplies two width-18
        |  -- decimals on its int64 fast path and range-checks the product
        |  -- against DECIMAL(18) capacity — hourly sums at sf0.1 overflow
        |  -- it (x·y ≈ 2.6e18 > 1e18). Width 19 forces the int128 path;
        |  -- values and exactness are unchanged, so the Spark side
        |  -- (decimal(18,6) products in Catalyst, always 128-bit) agrees.
        |  SELECT CAST(x.v AS DECIMAL(19,6)) AS x, CAST(y.v AS DECIMAL(19,6)) AS y
        |  FROM (SELECT * FROM hourly WHERE event_type = 'purchase') x
        |  JOIN (SELECT * FROM hourly WHERE event_type = 'view') y USING (bucket)),
        |m AS (
        |  SELECT COUNT(*) AS n_buckets,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(y * y) AS DOUBLE) AS syy
        |  FROM j)
        |SELECT n_buckets,
        |  ROUND((CAST(n_buckets AS DOUBLE) * sxy - sx * sy) /
        |    (sqrt(CAST(n_buckets AS DOUBLE) * sxx - sx * sx) *
        |     sqrt(CAST(n_buckets AS DOUBLE) * syy - sy * sy)), 6) AS pearson_r
        |FROM m""".stripMargin),

    // Flux `histogram(bins: [1, 5, 25, 125, 625])` — cumulative le-style
    // distribution per field (the Prometheus classic-histogram shape Flux
    // emits). One partial+final hash aggregate computes every bucket as a
    // conditional sum in a single pass over the scan — no per-bucket
    // shuffles, no explode before aggregation; the 6-row-per-field fan-out
    // happens AFTER the aggregate where cardinality is |fields|.
    QuerySpec("ts15_histogram", (s, dir) =>
      histCounts(ev(s, dir))
        .selectExpr("event_type",
          """stack(6, 0L, '1.0',   le0,
            |         1L, '5.0',   le1,
            |         2L, '25.0',  le2,
            |         3L, '125.0', le3,
            |         4L, '625.0', le4,
            |         5L, '+Inf',  n_total) AS (bin, le, n_le)""".stripMargin)
        .orderBy(col("event_type"), col("bin")),
      s"""WITH h AS ($histCountsSql)
         |SELECT event_type, bin, le, n_le FROM (
         |  SELECT event_type, CAST(0 AS BIGINT) AS bin, '1.0' AS le,
         |         CAST(le0 AS BIGINT) AS n_le FROM h
         |  UNION ALL SELECT event_type, 1, '5.0', CAST(le1 AS BIGINT) FROM h
         |  UNION ALL SELECT event_type, 2, '25.0', CAST(le2 AS BIGINT) FROM h
         |  UNION ALL SELECT event_type, 3, '125.0', CAST(le3 AS BIGINT) FROM h
         |  UNION ALL SELECT event_type, 4, '625.0', CAST(le4 AS BIGINT) FROM h
         |  UNION ALL SELECT event_type, 5, '+Inf', CAST(n_total AS BIGINT) FROM h)
         |ORDER BY event_type, bin""".stripMargin),

    // Flux `stateDuration` + `stateCount` (monitoring: "how long has this
    // sensor been above threshold") — consecutive in-state runs found with
    // the gaps-and-islands trick (global row index minus within-state row
    // index is constant exactly along one run), then each row reports its
    // 1-based position in the run and the elapsed µs since the run began;
    // out-of-state rows report Flux's -1 sentinel. Scale shape: three
    // window passes all partitioned by the SAME series key (one shuffle,
    // sort reused), integer arithmetic end to end.
    QuerySpec("ts17_state_duration", (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts_us"), col("event_id"))
      val wIsland = Window
        .partitionBy(col("event_type"), col("in_state"), col("island"))
        .orderBy(col("ts_us"), col("event_id"))
      ev(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("in_state", col("value") > 100.0)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("rns", row_number().over(
          Window.partitionBy(col("event_type"), col("in_state"))
            .orderBy(col("ts_us"), col("event_id"))).cast("long"))
        .withColumn("island", col("rn") - col("rns"))
        .withColumn("state_count",
          when(col("in_state"), row_number().over(wIsland).cast("long"))
            .otherwise(lit(-1L)))
        .withColumn("state_duration_us",
          when(col("in_state"), col("ts_us") - min(col("ts_us")).over(wIsland))
            .otherwise(lit(-1L)))
        .select(col("event_type"), col("ts_us"), col("event_id"), col("value"),
          col("in_state"), col("state_count"), col("state_duration_us"))
        .orderBy(col("event_type"), col("ts_us"), col("event_id"))
    },
      """WITH x AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
        |    value > 100.0 AS in_state,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) AS rn,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, value > 100.0
        |      ORDER BY epoch_us(ts), event_id) AS rns
        |  FROM events),
        |i AS (SELECT *, rn - rns AS island FROM x)
        |SELECT event_type, ts_us, event_id, value, in_state,
        |  CASE WHEN in_state THEN ROW_NUMBER() OVER w ELSE -1 END AS state_count,
        |  CASE WHEN in_state THEN ts_us - MIN(ts_us) OVER w ELSE -1 END
        |    AS state_duration_us
        |FROM i
        |WINDOW w AS (PARTITION BY event_type, in_state, island
        |             ORDER BY ts_us, event_id)
        |ORDER BY event_type, ts_us, event_id""".stripMargin),

    // Flux `histogramQuantile(quantile: 0.5)` — the Prometheus estimator:
    // walk the cumulative buckets to the first one covering q·total, then
    // interpolate linearly inside it. Runs on the same single-pass
    // conditional-sum aggregate as ts15; the estimator is ONE fixed
    // expression tree over exact long counts (mirrored token-for-token by
    // the oracle), so the double arithmetic is bit-identical.
    QuerySpec("ts16_histogram_quantile", (s, dir) =>
      histCounts(ev(s, dir))
        .selectExpr("event_type", "n_total", s"round($histQuantileSql, 6) AS q50")
        .orderBy(col("event_type")),
      s"""WITH h AS ($histCountsSql)
         |SELECT event_type, CAST(n_total AS BIGINT) AS n_total,
         |  ROUND($histQuantileSql, 6) AS q50
         |FROM h ORDER BY event_type""".stripMargin),

    // Ordered conversion funnel (view → click → purchase), the canonical
    // product-analytics shape: a user converts stage k only with an event
    // STRICTLY AFTER their stage-(k-1) anchor, so conditional per-user
    // aggregates alone can't express it — each stage's anchor feeds the
    // next stage's predicate. Three chained full-partition window minima
    // share ONE user_id hash partitioning (unordered frames, so no sort
    // either), and the final per-user groupBy reuses that same exchange:
    // the whole funnel costs exactly one shuffle of the events scan.
    QuerySpec("ts18_funnel", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      ev(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("fv",
          min(when(col("event_type") === "view", col("ts_us"))).over(w))
        .withColumn("fc",
          min(when(col("event_type") === "click" && col("ts_us") > col("fv"),
            col("ts_us"))).over(w))
        .withColumn("fp",
          min(when(col("event_type") === "purchase" && col("ts_us") > col("fc"),
            col("ts_us"))).over(w))
        .groupBy(col("user_id"))
        .agg(min(col("fv")).as("first_view_us"),
          min(col("fc")).as("first_click_us"),
          min(col("fp")).as("first_purchase_us"))
        .withColumn("stage",
          when(col("first_purchase_us").isNotNull, 3L)
            .when(col("first_click_us").isNotNull, 2L)
            .when(col("first_view_us").isNotNull, 1L)
            .otherwise(0L))
        .orderBy(col("user_id"))
    },
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |a AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_us END)
        |        OVER (PARTITION BY user_id) AS fv FROM e),
        |b AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_us > fv
        |        THEN ts_us END) OVER (PARTITION BY user_id) AS fc FROM a),
        |c AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_us > fc
        |        THEN ts_us END) OVER (PARTITION BY user_id) AS fp FROM b)
        |SELECT user_id, MIN(fv) AS first_view_us, MIN(fc) AS first_click_us,
        |  MIN(fp) AS first_purchase_us,
        |  CAST(CASE WHEN MIN(fp) IS NOT NULL THEN 3
        |            WHEN MIN(fc) IS NOT NULL THEN 2
        |            WHEN MIN(fv) IS NOT NULL THEN 1
        |            ELSE 0 END AS BIGINT) AS stage
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Signup-cohort weekly retention matrix: cohort = ISO week of the
    // user's first signup; a user is retained in week-offset k if they
    // produced ANY event in cohort_week + k weeks. Scale shape: the
    // cohort frame is |users| rows (one hash agg), the activity frame is
    // distinct (user, week) — both shuffles are keyed on user_id and the
    // final matrix agg is keyed on (cohort_week, offset) whose cardinality
    // is weeks² — tiny. Rate is one IEEE division over exact longs.
    QuerySpec("ts19_retention", (s, dir) => {
      val e = ev(s, dir)
      val cohort = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val sizes = cohort.groupBy(col("cohort_week"))
        .agg(count(lit(1)).as("n_cohort"))
      val activity = e
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      val active = activity.join(cohort, "user_id")
        .filter(col("week") >= col("cohort_week"))
        .groupBy(col("cohort_week"),
          (datediff(col("week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
      active.join(sizes, "cohort_week")
        .select(
          date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
          col("week_offset"), col("n_active"), col("n_cohort"),
          // unrounded single IEEE division of two longs — identical on
          // any IEEE-754 engine; round(·,6) would diverge when a cohort
          // size with 2-adic valuation 7 (640, 3200, …) put the quotient
          // exactly on a 6th-decimal half-way point (ts29 class)
          (col("n_active").cast("double") / col("n_cohort")).as("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
      """WITH cohort AS (
        |  SELECT user_id, date_trunc('week', MIN(ts)) AS cw
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |sizes AS (SELECT cw, COUNT(*) AS n_cohort FROM cohort GROUP BY cw),
        |activity AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events),
        |active AS (
        |  SELECT c.cw, CAST(datediff('day', c.cw, a.week) / 7 AS BIGINT) AS week_offset,
        |    COUNT(*) AS n_active
        |  FROM activity a JOIN cohort c ON a.user_id = c.user_id
        |  WHERE a.week >= c.cw
        |  GROUP BY c.cw, week_offset)
        |SELECT strftime(x.cw, '%Y-%m-%d') AS cohort_week, x.week_offset,
        |  x.n_active, s.n_cohort,
        |  CAST(x.n_active AS DOUBLE) / s.n_cohort AS retention
        |FROM active x JOIN sizes s ON x.cw = s.cw
        |ORDER BY cohort_week, week_offset""".stripMargin),

    // Mergeable-sketch incremental rollup — the 100 TB aggregation story:
    // history is summarized ONCE into per-day HLL sketches (DataSketches
    // HllSketch via hll_sketch_agg) and any later "distinct users over
    // range X" query merges the bounded sketch column instead of
    // rescanning raw events. The oracle can't see sketch internals, so —
    // exactly like q19/q25 — the registered output is the deterministic
    // ACCURACY verdict: every per-day estimate and the union-merged global
    // estimate must land within 5% of the exact distinct count (at this
    // cardinality HLL runs in sparse mode and is near-exact; a broken
    // sketch or merge flips the booleans and the hash).
    QuerySpec("ts20_hll_merge", (s, dir) => {
      val e = ev(s, dir)
      val daily = e.groupBy(to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          countDistinct(col("user_id")).as("day_exact"))
        .withColumn("day_est", hll_sketch_estimate(col("sk")))
        .withColumn("day_ok",
          abs(col("day_est") - col("day_exact")).cast("double") /
            col("day_exact") <= 0.05)
      val merged = daily.agg(
        count(lit(1)).as("n_days"),
        sum(when(col("day_ok"), 1L).otherwise(0L)).as("n_days_ok"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_est"))
      val exact = e.agg(countDistinct(col("user_id")).as("n_exact"))
      merged.crossJoin(exact)
        .select(col("n_days"), col("n_days_ok"), col("n_exact"),
          (abs(col("merged_est") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.05).as("merged_ok"))
    },
      // the oracle asserts the ACCURACY verdict (see the query's scaladoc):
      // exact counts from raw events, booleans as literals — a broken
      // sketch/merge on the engine side flips day_ok/merged_ok and the hash
      """SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days_ok,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS merged_ok
        |FROM events""".stripMargin),

    // Flux `exponentialMovingAverage` (k = 2/(n+1), n = 9 → k = 0.2,
    // seeded with the first observation): y_i = (1-k)^(i-1)·x_1 +
    // k·Σ_{j=2..i} (1-k)^(i-j)·x_j, evaluated in CLOSED FORM over the
    // daily per-field series so the recursion becomes a data-parallel
    // weighted sum. Cross-engine exactness: the decay powers are built by
    // FOLDING m literal 0.8 factors (identical IEEE product sequence on
    // both engines — `pow()` is not correctly-rounded and may differ by an
    // ulp between libm and the JVM), each term is rounded and summed as an
    // exact decimal (order-independent under any partitioning), and only
    // the final cast returns to double. Scale shape: the O(len²)
    // pair-expansion is per SERIES (len = days-per-key, bounded); at
    // 100 TB EMA over long series runs as a stateful sequential scan per
    // series key instead (mapGroupsWithState — GasStream), or as the
    // truncated-kernel window approximation; this closed form is the
    // oracle-checkable batch semantics.
    QuerySpec("ts21_ema", (s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("nd"), sum(sumExactCol(col("value"))).as("sd"))
        .withColumn("x", halfUpMean6("sd", "nd"))
        .withColumn("i", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))).cast("long"))
        .select(col("event_type"), col("day"), col("i"), col("x"))
      val a = daily.select(col("event_type"), col("day"), col("i"), col("x").as("xi"))
      val b = daily.select(col("event_type").as("et2"), col("i").as("j"), col("x").as("xj"))
      a.join(b, col("event_type") === col("et2") && col("j") <= col("i"))
        .withColumn("f", expr(
          """CASE WHEN i - j = 0 THEN CAST(1.0 AS DOUBLE)
            |ELSE aggregate(array_repeat(0.8D, CAST(i - j AS INT)), 1.0D,
            |               (acc, z) -> acc * z) END""".stripMargin))
        .withColumn("term", expr(
          "CAST(round((CASE WHEN j = 1 THEN f ELSE 0.2 * f END) * xj, 12) AS DECIMAL(28,12))"))
        .groupBy(col("event_type"), col("day"), col("i"))
        .agg(sum(col("term")).as("acc"))
        // round the DECIMAL accumulator (exact half-up, engine-independent)
        // BEFORE the double cast — rounding the casted double was the ts29
        // class whenever acc's 7th-12th digits were exactly 500000
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("i"), round(col("acc"), 6).cast("double").as("ema"))
        .orderBy(col("event_type"), col("i"))
    },
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |          + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS x
        |  FROM events GROUP BY event_type, day),
        |idx AS (
        |  SELECT event_type, day, x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
        |      AS i
        |  FROM daily),
        |pairs AS (
        |  SELECT a.event_type, a.day, a.i, b.i AS j, b.x AS xj,
        |    CASE WHEN a.i - b.i = 0 THEN CAST(1.0 AS DOUBLE)
        |         -- elements MUST be double: a DECIMAL(2,1) 0.8 would make
        |         -- list_reduce round the accumulator back to 1 dp each step
        |         ELSE list_reduce(list_transform(range(a.i - b.i),
        |                            z -> CAST(0.8 AS DOUBLE)),
        |                          (acc, z) -> acc * z) END AS f
        |  FROM idx a JOIN idx b
        |    ON a.event_type = b.event_type AND b.i <= a.i),
        |terms AS (
        |  SELECT event_type, day, i,
        |    CAST(ROUND((CASE WHEN j = 1 THEN f ELSE 0.2 * f END) * xj, 12)
        |      AS DECIMAL(28,12)) AS term
        |  FROM pairs)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, i,
        |  CAST(ROUND(SUM(term), 6) AS DOUBLE) AS ema
        |FROM terms GROUP BY event_type, day, i
        |ORDER BY event_type, i""".stripMargin),

    // Brown's DOUBLE exponential smoothing — the trend-aware forecasting
    // step up from ts21 (the non-seasonal core of Flux `holtWinters`):
    // smooth the series (s1), smooth the smoothed series (s2), then
    // level = 2·s1 − s2, trend = k/(1−k)·(s1 − s2), one-step forecast =
    // level + trend. Both smoothing passes are the ts21 closed form
    // ([[emaClosedForm]]); s1 is ROUNDED to the 6-dp output grid before
    // feeding pass 2, so both engines smooth identical inputs and the
    // final level/trend/forecast are one shared IEEE tree over 6-dp
    // values. Same scale shape as ts21: per-series O(len²) with bounded
    // len, keyed shuffles only.
    QuerySpec("ts22_double_exp_smooth", (s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("nd"), sum(sumExactCol(col("value"))).as("sd"))
        .withColumn("x", halfUpMean6("sd", "nd"))
        .withColumn("i", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))).cast("long"))
        .select(col("event_type").as("g"), col("day"), col("i"), col("x"))
      val s1 = emaClosedForm(daily.select(col("g"), col("i"), col("x")))
        .withColumn("s1", round(col("ema"), 6).cast("double")).drop("ema")
      val s2 = emaClosedForm(s1.select(col("g"), col("i"), col("s1").as("x")))
        .withColumn("s2", round(col("ema"), 6).cast("double")).drop("ema")
      daily.join(s1, Seq("g", "i")).join(s2, Seq("g", "i"))
        .select(col("g").as("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("i"),
          col("s1"), col("s2"),
          round(lit(2.0) * col("s1") - col("s2"), 6).as("level"),
          round(lit(0.25) * (col("s1") - col("s2")), 6).as("trend"),
          round(lit(2.0) * col("s1") - col("s2") +
            lit(0.25) * (col("s1") - col("s2")), 6).as("forecast_next"))
        .orderBy(col("event_type"), col("i"))
    },
      s"""WITH daily0 AS (
         |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
         |    CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
         |          + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS x
         |  FROM events GROUP BY g, day),
         |daily AS (
         |  SELECT g, day, x,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY day) AS BIGINT) AS i
         |  FROM daily0),
         |ser1 AS (SELECT g, i, x FROM daily),
         |${emaSql("ser1", "e1")},
         |s1 AS (SELECT g, i, CAST(ROUND(ema, 6) AS DOUBLE) AS s1 FROM e1),
         |ser2 AS (SELECT g, i, s1 AS x FROM s1),
         |${emaSql("ser2", "e2")},
         |s2 AS (SELECT g, i, CAST(ROUND(ema, 6) AS DOUBLE) AS s2 FROM e2)
         |SELECT d.g AS event_type, strftime(d.day, '%Y-%m-%d') AS day, d.i,
         |  s1.s1, s2.s2,
         |  ROUND(2.0 * s1.s1 - s2.s2, 6) AS level,
         |  ROUND(0.25 * (s1.s1 - s2.s2), 6) AS trend,
         |  ROUND(2.0 * s1.s1 - s2.s2 + 0.25 * (s1.s1 - s2.s2), 6)
         |    AS forecast_next
         |FROM daily d
         |JOIN s1 ON s1.g = d.g AND s1.i = d.i
         |JOIN s2 ON s2.g = d.g AND s2.i = d.i
         |ORDER BY event_type, d.i""".stripMargin),

    // ADDITIVE SEASONAL DECOMPOSITION + deseasonalized trend forecast —
    // the seasonal completion of ts22, i.e. the full level+trend+season
    // shape of Flux `holtWinters(seasonality: 7)`: a period-7 seasonal
    // index per series (mean of the day's seasonal position minus the
    // series mean — season-mean decomposition, the classical-decomposition
    // fixed-index variant), the deseasonalized series runs through ts22's
    // double smoothing, and the one-step forecast re-adds the NEXT
    // position's seasonal index. Seasonal position is (i−1) mod 7 — the
    // day sequence is dense, so this is weekday alignment without either
    // engine's dow() convention in the hash path. All means are
    // exact-decimal sums over 6-dp inputs; every arithmetic node is
    // rounded identically on both engines. Scale shape: the seasonal index
    // is one tiny (series × 7) aggregate joined back broadcast-style; the
    // smoothing passes are ts21's per-series closed form (bounded len);
    // nothing new shuffles beyond the series key.
    QuerySpec("ts23_seasonal_forecast", (s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("nd"), sum(sumExactCol(col("value"))).as("sd"))
        .withColumn("x", halfUpMean6("sd", "nd"))
        .withColumn("i", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))).cast("long"))
        .withColumn("p", (col("i") - 1) % 7)
        .select(col("event_type").as("g"), col("day"), col("i"), col("p"), col("x"))
        // |types|×|days| rows feeding THREE consumers (grand mean, seasonal
        // index, deseasonalize) — barrier per the ts42 discipline; the
        // executed plan otherwise re-derived the events aggregate per
        // reference (r16 plan audit: 23 FileScans / 65 Exchanges)
        .localCheckpoint(true)
      val mu = daily.groupBy(col("g"))
        .agg(count(lit(1)).as("nm"), sum(sumExactCol(col("x"))).as("sm"))
        .withColumn("gmu", halfUpMean6("sm", "nm"))
        .select(col("g"), col("gmu"))
      val seas = daily.groupBy(col("g"), col("p"))
        .agg(count(lit(1)).as("np"), sum(sumExactCol(col("x"))).as("sp"))
        .withColumn("pmu", halfUpMean6("sp", "np"))
        .join(mu, Seq("g"))
        .select(col("g"), col("p"), round(col("pmu") - col("gmu"), 6).as("sidx"))
        // |types|×7 rows, two consumers (deseasonalize + next-period join)
        .localCheckpoint(true)
      val de = daily.join(seas, Seq("g", "p"))
        .withColumn("y", round(col("x") - col("sidx"), 6))
        // three consumers (s1 chain, s2 chain via s1, final join)
        .localCheckpoint(true)
      val s1 = emaClosedForm(de.select(col("g"), col("i"), col("y").as("x")))
        .withColumn("s1", round(col("ema"), 6).cast("double")).drop("ema")
        // two consumers (s2 chain + final join) — barrier the window pass
        .localCheckpoint(true)
      val s2 = emaClosedForm(s1.select(col("g"), col("i"), col("s1").as("x")))
        .withColumn("s2", round(col("ema"), 6).cast("double")).drop("ema")
      val nextSeas = seas.select(col("g"), col("p").as("np"),
        col("sidx").as("next_sidx"))
      de.join(s1, Seq("g", "i")).join(s2, Seq("g", "i"))
        .withColumn("np", col("i") % 7)
        .join(nextSeas, Seq("g", "np"))
        .withColumn("level", round(lit(2.0) * col("s1") - col("s2"), 6))
        .withColumn("trend", round(lit(0.25) * (col("s1") - col("s2")), 6))
        // sum of ALREADY-6dp values: the true result sits on the 6-dp grid,
        // never near a rounding boundary — summing the unrounded forms here
        // measurably diverges between the engines' round() at the 7th digit
        .withColumn("forecast_next",
          round(col("level") + col("trend") + col("next_sidx"), 6))
        .select(col("g").as("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("i"),
          col("x"), col("sidx"), col("y").as("deseason"),
          col("level"), col("trend"), col("forecast_next"))
        .orderBy(col("event_type"), col("i"))
    },
      s"""WITH daily0 AS (
         |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
         |    CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
         |          + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS x
         |  FROM events GROUP BY g, day),
         |daily AS (
         |  SELECT g, day, x,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY day) AS BIGINT) AS i
         |  FROM daily0),
         |dailyp AS (SELECT *, CAST((i - 1) % 7 AS BIGINT) AS p FROM daily),
         |mu AS (
         |  SELECT g,
         |    CAST((2 * CAST(SUM(CAST(x AS DECIMAL(18,6))) * 1000000 AS BIGINT)
         |          + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS gmu
         |  FROM dailyp GROUP BY g),
         |pm AS (
         |  SELECT g, p,
         |    CAST((2 * CAST(SUM(CAST(x AS DECIMAL(18,6))) * 1000000 AS BIGINT)
         |          + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS pmu
         |  FROM dailyp GROUP BY g, p),
         |seas AS (SELECT pm.g, pm.p, ROUND(pm.pmu - mu.gmu, 6) AS sidx
         |         FROM pm JOIN mu ON mu.g = pm.g),
         |de AS (
         |  SELECT d.g, d.day, d.i, d.p, d.x, s.sidx, ROUND(d.x - s.sidx, 6) AS y
         |  FROM dailyp d JOIN seas s ON s.g = d.g AND s.p = d.p),
         |ser1 AS (SELECT g, i, y AS x FROM de),
         |${emaSql("ser1", "e1")},
         |s1 AS (SELECT g, i, CAST(ROUND(ema, 6) AS DOUBLE) AS s1 FROM e1),
         |ser2 AS (SELECT g, i, s1 AS x FROM s1),
         |${emaSql("ser2", "e2")},
         |s2 AS (SELECT g, i, CAST(ROUND(ema, 6) AS DOUBLE) AS s2 FROM e2)
         |SELECT de.g AS event_type, strftime(de.day, '%Y-%m-%d') AS day, de.i,
         |  de.x, de.sidx, de.y AS deseason,
         |  ROUND(2.0 * s1.s1 - s2.s2, 6) AS level,
         |  ROUND(0.25 * (s1.s1 - s2.s2), 6) AS trend,
         |  ROUND(ROUND(2.0 * s1.s1 - s2.s2, 6) + ROUND(0.25 * (s1.s1 - s2.s2), 6)
         |        + ns.sidx, 6) AS forecast_next
         |FROM de
         |JOIN s1 ON s1.g = de.g AND s1.i = de.i
         |JOIN s2 ON s2.g = de.g AND s2.i = de.i
         |JOIN seas ns ON ns.g = de.g AND ns.p = de.i % 7
         |ORDER BY event_type, de.i""".stripMargin),

    // LTTB (largest-triangle-three-buckets) downsampling — Grafana's
    // shape-preserving "2M points → 20 points" visual downsampler, run as
    // a per-series sequential kernel inside flatMapGroups (data-parallel
    // across series, sequential within — see [[graft.operators.Lttb]]).
    // The DuckDB oracle replays the pick-by-pick recursion with
    // WITH RECURSIVE (argmax via NOT EXISTS, ties to the earliest point),
    // so every selected point — and therefore every triangle-area
    // comparison against the running previous pick — is hash-verified.
    QuerySpec("ts24_lttb_downsample", (s, dir) => {
      val sp = s
      import sp.implicits._
      ev(s, dir)
        .select(col("event_type"), unix_micros(col("ts")).as("xus"),
          col("event_id"), col("value"))
        .as[(String, Long, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (g, it) =>
          val pts = it.map(t => (t._2, t._3, t._4)).toArray
            .sortBy(p => (p._1, p._2))
          graft.operators.Lttb.downsample(pts, 20).iterator
            .map(o => (g, o._1, o._2, o._3))
        }
        .toDF("event_type", "k", "x_us", "y")
        .orderBy(col("event_type"), col("k"))
    },
      // pick-by-pick LTTB replay: centroids from exact sums, the recursion
      // advances one bucket per step, argmax-by-area via NOT EXISTS with
      // ties to the earliest point — the same IEEE area tree as the engine.
      // Series with no interior to thin (n <= buckets+2 = 22) bypass the
      // recursion entirely (k = position), mirroring the engine's
      // pass-through — they would otherwise stall the recursion on sparse
      // bucket numbering and divide by zero at n = 2.
      """WITH RECURSIVE
        |pts AS (
        |  SELECT event_type AS g, epoch_us(ts) AS xus,
        |    CAST(epoch_us(ts) AS DOUBLE) AS xd, value AS y,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS BIGINT) AS i,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |short AS (SELECT g, i - 1 AS k, xus, y FROM pts WHERE n <= 22),
        |mids AS (SELECT *, (i - 2) * 20 // (n - 2) AS b FROM pts
        |         WHERE n > 22 AND i >= 2 AND i <= n - 1),
        |cent AS (
        |  SELECT g, b, CAST(SUM(xus) AS DOUBLE) / COUNT(*) AS cx,
        |    CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS cy
        |  FROM mids GROUP BY g, b),
        |lastp AS (SELECT g, xus, xd, y FROM pts WHERE i = n AND n > 22),
        |cand AS (
        |  SELECT m.g, m.b, m.i, m.xus, m.xd, m.y,
        |    COALESCE(c.cx, l.xd) AS cx, COALESCE(c.cy, l.y) AS cy
        |  FROM mids m
        |  LEFT JOIN cent c ON c.g = m.g AND c.b = m.b + 1
        |  JOIN lastp l ON l.g = m.g),
        |rec AS (
        |  SELECT g, CAST(0 AS BIGINT) AS k, xus AS selxus, xd AS selxd,
        |    y AS sely
        |  FROM pts WHERE i = 1 AND n > 22
        |  UNION ALL
        |  SELECT r.g, r.k + 1, p.xus, p.xd, p.y
        |  FROM rec r JOIN cand p ON p.g = r.g AND p.b = r.k
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM cand p2
        |    WHERE p2.g = p.g AND p2.b = p.b AND (
        |      ABS((r.selxd - p2.cx) * (p2.y - r.sely)
        |          - (r.selxd - p2.xd) * (p2.cy - r.sely))
        |        > ABS((r.selxd - p.cx) * (p.y - r.sely)
        |              - (r.selxd - p.xd) * (p.cy - r.sely))
        |      OR (ABS((r.selxd - p2.cx) * (p2.y - r.sely)
        |               - (r.selxd - p2.xd) * (p2.cy - r.sely))
        |            = ABS((r.selxd - p.cx) * (p.y - r.sely)
        |                  - (r.selxd - p.xd) * (p.cy - r.sely))
        |          AND p2.i < p.i))))
        |SELECT event_type, k, x_us, y FROM (
        |  SELECT g AS event_type, k, selxus AS x_us, sely AS y FROM rec
        |  UNION ALL
        |  SELECT g, CAST(21 AS BIGINT), xus, y FROM lastp
        |  UNION ALL
        |  SELECT g, k, xus, y FROM short)
        |ORDER BY event_type, k""".stripMargin),

    // Anomaly detection — the monitoring verdict a sensor pipeline actually
    // pages on, with the two standard detectors side by side: (a) a rolling
    // z-score over the trailing 24 points (catches level shifts against the
    // recent regime; null until the window fills, so early rows never fire
    // on a half-estimated variance) and (b) a robust global z-score from
    // median/MAD (outlier-resistant where mean/σ are themselves dragged by
    // the anomalies they're meant to find). Numerics: rolling Σx and Σx²
    // are EXACT decimals over the rows frame (order-independent under any
    // partitioning), cast to double once, and each score is ONE fixed IEEE
    // tree the oracle mirrors token-for-token; the median is rank-based
    // ((v⌊(n+1)/2⌋ + v⌈(n+1)/2⌉)/2 in exact decimal) rather than an
    // interpolating percentile, so no engine-specific interpolation
    // arithmetic exists anywhere. Scale shape: one shuffle on the series
    // key shared by every window pass; the median/MAD side is two
    // rank-windows + two tiny per-series aggregates joined back by
    // broadcast (|series| rows). MAD = 0 (constant-majority series) yields
    // a null robust score, not ±Inf.
    QuerySpec("ts25_anomaly_detect", (s, dir) => {
      val keyed = ev(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("xd", col("value").cast("decimal(18,6)"))
      // (a) trailing-24 rolling z-score from exact decimal moment sums.
      // O(n) running-sum form (r17, guide §1.2 per-task work): a
      // rowsBetween(-23, 0) sliding SUM re-aggregates the full 24-row
      // frame per row (SlidingWindowFunctionFrame — 24× the decimal adds,
      // and the whole stage is one task per series); the same sums are
      // running-cumulative DIFFERENCES cum(i) − cum(i−24), byte-identical
      // because decimal arithmetic is exact (no float-reassociation
      // hazard), at one add per row. n24 = min(row_number, 24) replaces
      // the windowed count. Profiled: the sliding form was 1.4 s of the
      // 4.0 s wall at sf0.1 (event-log job 14).
      val seq = Window.partitionBy(col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
      val run = seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rolled = keyed
        .withColumn("cx", sum(col("xd")).over(run))
        .withColumn("cxx",
          sum((col("xd") * col("xd")).cast("decimal(38,12)")).over(run))
        .withColumn("n24", least(row_number().over(seq), lit(24)).cast("long"))
        .withColumn("sx",
          (col("cx") - coalesce(lag(col("cx"), 24).over(seq),
            lit(0).cast("decimal(28,6)"))).cast("double"))
        .withColumn("sxx",
          (col("cxx") - coalesce(lag(col("cxx"), 24).over(seq),
            lit(0).cast("decimal(38,12)"))).cast("double"))
      // (b) exact rank-based median and MAD per series
      def med(df: DataFrame, v: String, out: String): DataFrame = {
        val w = Window.partitionBy(col("event_type")).orderBy(col(v), col("event_id"))
        df.withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
          .filter(col("rn") === expr("(n + 1) div 2") ||
            col("rn") === expr("n div 2 + 1"))
          .groupBy(col("event_type"))
          .agg(((min(col(v)) + max(col(v))) / lit(2)).cast("decimal(18,6)").as(out))
      }
      // |series| rows, two consumers (MAD input + final join) — barrier so
      // the full-series median rank-window runs once, not twice (r16)
      val medians = med(keyed, "xd", "med").localCheckpoint(true)
      val mads = med(
        keyed.join(broadcast(medians), "event_type")
          .withColumn("adev", abs(col("xd") - col("med")).cast("decimal(18,6)")),
        "adev", "mad")
      rolled
        .join(broadcast(medians), "event_type")
        .join(broadcast(mads), "event_type")
        .withColumn("vr",
          (col("sxx") - col("sx") * col("sx") / lit(24.0)) / lit(24.0))
        .withColumn("z_roll_raw",
          when(col("n24") === 24 && col("vr") > 0.0,
            (col("value") - col("sx") / lit(24.0)) / sqrt(col("vr"))))
        .withColumn("z_rob_raw",
          when(col("mad").cast("double") > 0.0,
            lit(0.6745) * (col("value") - col("med").cast("double")) /
              col("mad").cast("double")))
        .select(col("event_type"), col("ts_us"), col("event_id"), col("value"),
          round(col("z_roll_raw"), 6).as("z_roll"),
          (abs(col("z_roll_raw")) > 3.0).as("roll_flag"),
          round(col("z_rob_raw"), 6).as("z_robust"),
          (abs(col("z_rob_raw")) > 3.5).as("robust_flag"))
        .orderBy(col("event_type"), col("ts_us"), col("event_id"))
    },
      // the same exact-decimal rolling moments, rank-based median/MAD and
      // fixed IEEE score trees as the engine — no interpolating percentile
      // anywhere, so there is nothing engine-specific to diverge
      """WITH k AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
        |    CAST(value AS DECIMAL(18,6)) AS xd
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    COUNT(*) OVER w24 AS n24,
        |    CAST(SUM(xd) OVER w24 AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(xd * xd AS DECIMAL(38,12))) OVER w24 AS DOUBLE) AS sxx
        |  FROM k
        |  WINDOW w24 AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |mr AS (
        |  SELECT event_type, xd,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY xd, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM k),
        |m AS (
        |  SELECT event_type, CAST((MIN(xd) + MAX(xd)) / 2 AS DECIMAL(18,6)) AS med
        |  FROM mr WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |  GROUP BY event_type),
        |ar AS (
        |  SELECT k.event_type, k.event_id,
        |    CAST(ABS(xd - med) AS DECIMAL(18,6)) AS adev
        |  FROM k JOIN m USING (event_type)),
        |ar2 AS (
        |  SELECT event_type, adev,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM ar),
        |md AS (
        |  SELECT event_type, CAST((MIN(adev) + MAX(adev)) / 2 AS DECIMAL(18,6)) AS mad
        |  FROM ar2 WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |  GROUP BY event_type),
        |scored AS (
        |  SELECT r.event_type, r.ts_us, r.event_id, r.value,
        |    (r.sxx - r.sx * r.sx / 24.0) / 24.0 AS vr,
        |    CASE WHEN r.n24 = 24 AND (r.sxx - r.sx * r.sx / 24.0) / 24.0 > 0.0
        |         THEN (r.value - r.sx / 24.0)
        |              / sqrt((r.sxx - r.sx * r.sx / 24.0) / 24.0) END AS zr,
        |    CASE WHEN CAST(md.mad AS DOUBLE) > 0.0
        |         THEN 0.6745 * (r.value - CAST(m.med AS DOUBLE))
        |              / CAST(md.mad AS DOUBLE) END AS zb
        |  FROM r JOIN m USING (event_type) JOIN md USING (event_type))
        |SELECT event_type, ts_us, event_id, value,
        |  ROUND(zr, 6) AS z_roll, ABS(zr) > 3.0 AS roll_flag,
        |  ROUND(zb, 6) AS z_robust, ABS(zb) > 3.5 AS robust_flag
        |FROM scored ORDER BY event_type, ts_us, event_id""".stripMargin),

    // CUSUM changepoint detection (Page 1954) — ts25 flags point outliers;
    // CUSUM catches sustained LEVEL SHIFTS those z-scores miss, because
    // small per-point deviations accumulate until a side crosses h. Tuned
    // the textbook way from per-series exact-decimal moments: slack
    // k = σ/2, threshold h = 4σ, target μ = series mean. The clamped
    // recursion has no closed form, so it runs as a per-series sequential
    // kernel ([[graft.operators.Cusum]]) inside flatMapGroups —
    // data-parallel across series keys like the LTTB kernel. Scale shape:
    // one shuffle on the series key; the parameter frame is |series| rows
    // joined back by broadcast. The DuckDB oracle replays the recursion
    // step-for-step (WITH RECURSIVE), including the post-alarm reset.
    QuerySpec("ts26_cusum_changepoint", (s, dir) => {
      val sp = s
      import sp.implicits._
      val base = ev(s, dir).select(col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
      // per-series μ/σ from exact decimal moments, then ONE fixed IEEE
      // tree per parameter (both engines compute byte-identical doubles)
      val params = base
        .withColumn("xd", col("value").cast("decimal(18,6)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("xd")).as("sx"),
          sum((col("xd") * col("xd")).cast("decimal(38,12)")).as("sxx"))
        .withColumn("mu", halfUpMean6("sx", "n"))
        .withColumn("sigma", round(sqrt(greatest(lit(0.0),
          col("sxx").cast("double") / col("n") -
            (col("sx").cast("double") / col("n")) *
            (col("sx").cast("double") / col("n")))), 6))
        .select(col("event_type"), col("mu"),
          round(lit(0.5) * col("sigma"), 6).as("kk"),
          round(lit(4.0) * col("sigma"), 6).as("h"))
      base.join(broadcast(params), Seq("event_type"))
        .select(col("event_type"), col("ts_us"), col("event_id"),
          col("value"), col("mu"), col("kk"), col("h"))
        .as[(String, Long, Long, Double, Double, Double, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (g, it) =>
          val rows = it.toArray
          val pts = rows.map(r => graft.operators.Cusum.Point(r._2, r._3, r._4))
            .sortBy(p => (p.tsUs, p.id))
          val (mu, kk, h) = (rows(0)._5, rows(0)._6, rows(0)._7)
          graft.operators.Cusum.run(pts, mu, kk, h).iterator
            .map(st => (g, st.tsUs, st.id, st.x, st.sp, st.sn, st.alarm))
        }
        .toDF("event_type", "ts_us", "event_id", "value", "sp", "sn", "alarm")
        .orderBy(col("event_type"), col("ts_us"), col("event_id"))
    },
      // step-for-step CUSUM replay: same exact-decimal parameter moments,
      // same per-step round(…, 6) recursion incl. the post-alarm reset —
      // the alarm predicate is re-derived from (sp, sn, h) at each hop
      """WITH RECURSIVE
        |pts AS (
        |  SELECT event_type AS g, epoch_us(ts) AS ts_us, event_id, value AS x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS BIGINT) AS i
        |  FROM events),
        |st AS (
        |  SELECT event_type AS g, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sx,
        |    SUM(CAST(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6))
        |        AS DECIMAL(38,12))) AS sxx
        |  FROM events GROUP BY event_type),
        |sg AS (
        |  SELECT g,
        |    CAST((2 * CAST(sx * 1000000 AS BIGINT) + n) // (2 * n) AS DOUBLE)
        |      / 1000000.0 AS mu,
        |    ROUND(sqrt(greatest(0, CAST(sxx AS DOUBLE) / n
        |      - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))), 6) AS sigma
        |  FROM st),
        |pr AS (SELECT g, mu, ROUND(0.5 * sigma, 6) AS kk,
        |              ROUND(4.0 * sigma, 6) AS h FROM sg),
        |rec AS (
        |  SELECT p.g, p.i, p.ts_us, p.event_id, p.x,
        |    ROUND(greatest(0, ROUND(p.x - r.mu - r.kk, 6)), 6) AS sp,
        |    ROUND(greatest(0, ROUND(r.mu - p.x - r.kk, 6)), 6) AS sn
        |  FROM pts p JOIN pr r USING (g) WHERE p.i = 1
        |  UNION ALL
        |  SELECT p.g, p.i, p.ts_us, p.event_id, p.x,
        |    ROUND(greatest(0,
        |      (CASE WHEN q.sp > r.h OR q.sn > r.h THEN 0 ELSE q.sp END)
        |      + ROUND(p.x - r.mu - r.kk, 6)), 6),
        |    ROUND(greatest(0,
        |      (CASE WHEN q.sp > r.h OR q.sn > r.h THEN 0 ELSE q.sn END)
        |      + ROUND(r.mu - p.x - r.kk, 6)), 6)
        |  FROM rec q
        |  JOIN pts p ON p.g = q.g AND p.i = q.i + 1
        |  JOIN pr r ON r.g = p.g)
        |SELECT q.g AS event_type, q.ts_us, q.event_id, q.x AS value,
        |  q.sp, q.sn, (q.sp > r.h OR q.sn > r.h) AS alarm
        |FROM rec q JOIN pr r USING (g)
        |ORDER BY event_type, ts_us, event_id""".stripMargin),

    // Autocorrelation function (ACF, lags 1–10) — the seasonality
    // diagnostic that JUSTIFIES ts23's period-7 decomposition: a weekly
    // cycle shows as a peak at lag 7. Standard estimator: r_L =
    // Σ(xᵢ−μ)(xᵢ₊L−μ) / Σ(xᵢ−μ)², μ and the denominator over the full
    // series. All ten lags come from ONE window pass (ten lead() columns
    // share the series sort), so the plan is one shuffle on the series
    // key; terms are rounded to 12 dp and summed as exact decimals, so
    // the aggregate is order-independent under any partitioning.
    QuerySpec("ts27_acf", (s, dir) => {
      val base = ev(s, dir).select(col("event_type").as("g"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
      acf10(base)
        .select(col("g").as("event_type"), col("lag").cast("long").as("lag"),
          col("acf"), col("n_pairs"))
        .orderBy(col("event_type"), col("lag"))
    },
      // same centered series by row-number self-join at each lag, same
      // 12-dp-rounded terms summed as exact decimals
      s"""WITH $acf10Sql
         |SELECT g AS event_type, CAST(lag AS BIGINT) AS lag, acf, n_pairs
         |FROM a ORDER BY event_type, lag""".stripMargin),

    // AUTOMATIC PERIOD DETECTION — the DECISION on top of ts27's
    // measurement (the auto-seasonality knob a forecasting pipeline
    // turns before choosing ts23's period): per series, the lag (1–10)
    // with the highest autocorrelation, ties to the SMALLEST lag
    // (max-struct on (acf, -lag) — one deterministic aggregate), plus
    // the standard |r| > 2/√n significance verdict (Bartlett's
    // white-noise band). Same single-sort plan as ts27; the argmax adds
    // one |series|×10-row aggregate.
    QuerySpec("ts40_auto_period", (s, dir) => {
      val base = ev(s, dir).select(col("event_type").as("g"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
      acf10(base)
        .groupBy(col("g").as("event_type"))
        .agg(
          max(struct(col("acf"), (-col("lag")).as("neg_lag"))).as("best"),
          max(col("n_pairs")).as("n_max"))
        .select(col("event_type"),
          (-col("best.neg_lag")).cast("long").as("best_lag"),
          col("best.acf").as("best_acf"),
          // Bartlett band on the LONGEST overlap count: 2/√n — one IEEE
          // tree both engines evaluate identically
          (col("best.acf") >
            lit(2.0) / sqrt(col("n_max").cast("double"))).as("is_seasonal"))
        .orderBy(col("event_type"))
    },
      // same ACF table; argmax by (acf DESC, lag) rank; Bartlett 2/√n band
      s"""WITH $acf10Sql,
         |mx AS (SELECT g, MAX(n_pairs) AS n_max FROM a GROUP BY g),
         |b AS (SELECT g, lag, acf,
         |        ROW_NUMBER() OVER (PARTITION BY g ORDER BY acf DESC, lag)
         |          AS rnk
         |      FROM a)
         |SELECT b.g AS event_type, CAST(b.lag AS BIGINT) AS best_lag,
         |  b.acf AS best_acf,
         |  b.acf > 2.0 / sqrt(CAST(m.n_max AS DOUBLE)) AS is_seasonal
         |FROM b JOIN mx m USING (g) WHERE rnk = 1
         |ORDER BY event_type""".stripMargin),

    // ROBUST rolling anomaly — the median/MAD upgrade of ts25's
    // mean/stddev z-score: one outlier inflates a trailing stddev enough
    // to mask the NEXT outlier (masking), while the 15-point rolling
    // median and MAD have a 50% breakdown point (Hampel filter,
    // Pearson/Hampel robust-statistics lineage). Determinism without any
    // rounding: the window arrives as a SORTED bounded array, the median
    // is an element pick (odd n) or one (a+b)/2 (even n), the MAD repeats
    // that on |x−med| — every step is the same IEEE add/divide/compare on
    // identical doubles in both engines, so no round-on-quotient hazard
    // exists anywhere. Scale shape: one exchange on the series key, then
    // a 15-row frame per row — arrays are bounded at 15 elements, so
    // memory per row is O(1) and the operator rides the same series-key
    // partitioning every other ts window query uses; the oracle replays
    // the frame as a rank self-join (plain ANSI, no list-window
    // functions, per the round-9 portability policy).
    QuerySpec("ts41_rolling_robust_z", (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts_us"), col("event_id")).rowsBetween(-14, 0)
      ev(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("arr", sort_array(collect_list(col("value")).over(w)))
        .withColumn("n", size(col("arr")))
        .withColumn("med",
          (element_at(col("arr"), expr("cast((n + 1) div 2 as int)")) +
            element_at(col("arr"), expr("cast((n + 2) div 2 as int)"))) / 2)
        .withColumn("devs",
          expr("array_sort(transform(arr, v -> abs(v - med)))"))
        .withColumn("mad",
          (element_at(col("devs"), expr("cast((n + 1) div 2 as int)")) +
            element_at(col("devs"), expr("cast((n + 2) div 2 as int)"))) / 2)
        .withColumn("is_anomaly",
          abs(col("value") - col("med")) > lit(3.0) * col("mad"))
        .select(col("event_type"), col("ts_us"), col("event_id"),
          col("value"), col("med"), col("mad"), col("is_anomaly"))
        .orderBy(col("event_type"), col("ts_us"), col("event_id"))
    },
      // rank-self-join replay of the 15-point rolling median/MAD: the frame
      // is j.rn ∈ [i.rn−14, i.rn]; median = (v@⌈n/2⌉ + v@⌊n/2⌋+1)/2 via two
      // single-row CASE sums (exact — the zero terms are IEEE-neutral), MAD
      // repeats it on |v−med|. Plain ANSI window/join SQL only.
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |w AS (
        |  SELECT i.event_type, i.rn, j.value AS v
        |  FROM e i JOIN e j ON j.event_type = i.event_type
        |    AND j.rn BETWEEN i.rn - 14 AND i.rn),
        |r AS (
        |  SELECT event_type, rn, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, rn ORDER BY v) AS vr,
        |    COUNT(*) OVER (PARTITION BY event_type, rn) AS n
        |  FROM w),
        |med AS (
        |  SELECT event_type, rn,
        |    (SUM(CASE WHEN vr = (n + 1) // 2 THEN v ELSE 0 END)
        |     + SUM(CASE WHEN vr = (n + 2) // 2 THEN v ELSE 0 END)) / 2 AS med
        |  FROM r GROUP BY event_type, rn, n),
        |d AS (
        |  SELECT w.event_type, w.rn, abs(w.v - m.med) AS dv
        |  FROM w JOIN med m ON m.event_type = w.event_type AND m.rn = w.rn),
        |rd AS (
        |  SELECT event_type, rn, dv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, rn ORDER BY dv) AS vr,
        |    COUNT(*) OVER (PARTITION BY event_type, rn) AS n
        |  FROM d),
        |mad AS (
        |  SELECT event_type, rn,
        |    (SUM(CASE WHEN vr = (n + 1) // 2 THEN dv ELSE 0 END)
        |     + SUM(CASE WHEN vr = (n + 2) // 2 THEN dv ELSE 0 END)) / 2 AS mad
        |  FROM rd GROUP BY event_type, rn, n)
        |SELECT e.event_type, e.ts_us, e.event_id, e.value, m.med, md.mad,
        |  abs(e.value - m.med) > 3.0 * md.mad AS is_anomaly
        |FROM e
        |JOIN med m ON m.event_type = e.event_type AND m.rn = e.rn
        |JOIN mad md ON md.event_type = e.event_type AND md.rn = e.rn
        |ORDER BY e.event_type, e.ts_us, e.event_id""".stripMargin),

    // POPULATION STABILITY INDEX day-over-day — the data-DRIFT monitor a
    // training pipeline runs on every feature column: PSI =
    // Σ_bins (p−q)·ln(p/q) between today's and yesterday's value
    // distribution; > 0.25 is the classic "population shifted" alarm.
    // Determinism by construction: bin width 16 is a POWER OF TWO, so
    // value/16 only changes the exponent and floor() is exact on both
    // engines; bins clamp to [0,7] at BOTH ends on both engines (gs22's
    // convention — a negative value lands in bin 0 instead of taking
    // bin -1 and silently vanishing from the 0..7 densify join); Laplace-smoothed p, q are integer ratios (one IEEE
    // division each); the single ln sees one exact integer-ratio
    // quotient and is 6-dp-rounded (the tx21 log discipline); each
    // bin's term is 12-dp-rounded into DECIMAL so the 8-term sum is
    // exact and ORDER-INDEPENDENT (a raw double Σ would hash on
    // aggregation order). Scale shape: counts compress to
    // |types|·|days|·8 rows BEFORE any join; the day-over-day self-join
    // and the final rollup ride that tiny frame.
    QuerySpec("ts42_psi_drift", (s, dir) => {
      // The compressed frame is referenced by three branches (day frame,
      // densify, totals) whose differing column pruning defeats
      // ReuseExchange — without materialization the 100 TB events scan
      // would run three times (observed: 3 FileScans). The frame is
      // types×days×8 rows, so an eager localCheckpoint materializes it
      // once and every branch reads the tiny cached copy; the raw scan
      // happens exactly once, in the checkpoint job (plan-audited).
      val binned = ev(s, dir)
        .withColumn("day", to_date(col("ts")))
        .withColumn("bin",
          greatest(least(floor(col("value") / 16.0), lit(7L)), lit(0L)))
        .groupBy(col("event_type"), col("day"), col("bin"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val frame = binned.select(col("event_type"), col("day")).distinct()
        .crossJoin(broadcast(s.range(0, 8).toDF("bin")))
      val dense = frame.join(binned, Seq("event_type", "day", "bin"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      val tot = dense.groupBy(col("event_type"), col("day"))
        .agg(sum(col("n")).as("tot"))
      val cells = dense.join(tot, Seq("event_type", "day"))
      val cur = cells.select(col("event_type"), col("day"), col("bin"),
        col("n").as("nc"), col("tot").as("tc"))
      val prev = cells.select(col("event_type"),
        date_add(col("day"), 1).as("day"), col("bin"),
        col("n").as("np"), col("tot").as("tp"))
      cur.join(prev, Seq("event_type", "day", "bin"))
        .withColumn("p",
          (col("nc") + 1).cast("double") / (col("tc") + 8).cast("double"))
        .withColumn("q",
          (col("np") + 1).cast("double") / (col("tp") + 8).cast("double"))
        .withColumn("lnr", round(log(
          ((col("nc") + 1) * (col("tp") + 8)).cast("double") /
            ((col("np") + 1) * (col("tc") + 8)).cast("double")), 6))
        .withColumn("term",
          expr("cast(round((p - q) * lnr, 12) as decimal(28,12))"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("term")).as("psi_dec"),
          sum(col("nc")).as("n_cur"), sum(col("np")).as("n_prev"))
        .select(col("event_type"), col("day"),
          col("psi_dec").cast("double").as("psi"),
          col("n_cur"), col("n_prev"))
        .orderBy(col("event_type"), col("day"))
    },
      // same power-of-two bins, Laplace smoothing, single 6-dp ln of the
      // integer-ratio quotient, 12-dp decimal terms — DuckDB ln() is
      // natural log (its log() is base-10, the classic trap)
      """WITH binned AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(greatest(least(floor(value / 16.0), 7), 0) AS BIGINT)
        |      AS bin,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |frame AS (SELECT DISTINCT event_type, day FROM binned),
        |dense AS (
        |  SELECT f.event_type, f.day, t.bin, COALESCE(bi.n, 0) AS n
        |  FROM frame f CROSS JOIN range(0, 8) t(bin)
        |  LEFT JOIN binned bi ON bi.event_type = f.event_type
        |    AND bi.day = f.day AND bi.bin = t.bin),
        |tot AS (SELECT event_type, day, SUM(n) AS tot FROM dense
        |        GROUP BY event_type, day),
        |cells AS (SELECT d.event_type, d.day, d.bin, d.n, tt.tot
        |          FROM dense d JOIN tot tt USING (event_type, day)),
        |j AS (
        |  SELECT c.event_type, c.day, c.bin, c.n AS nc, c.tot AS tc,
        |    p.n AS np, p.tot AS tp
        |  FROM cells c JOIN cells p ON p.event_type = c.event_type
        |    AND p.day + 1 = c.day AND p.bin = c.bin),
        |terms AS (
        |  SELECT event_type, day, nc, np,
        |    CAST(ROUND(
        |      ((CAST(nc + 1 AS DOUBLE) / (tc + 8))
        |        - (CAST(np + 1 AS DOUBLE) / (tp + 8)))
        |      * ROUND(ln(CAST((nc + 1) * (tp + 8) AS DOUBLE)
        |                 / ((np + 1) * (tc + 8))), 6)
        |    , 12) AS DECIMAL(28,12)) AS term
        |  FROM j)
        |SELECT event_type, day, CAST(SUM(term) AS DOUBLE) AS psi,
        |  CAST(SUM(nc) AS BIGINT) AS n_cur,
        |  CAST(SUM(np) AS BIGINT) AS n_prev
        |FROM terms GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin),

    // WEEKDAY×HOUR SEASONAL PROFILE — the dashboard heatmap behind every
    // "is this normal for a Tuesday 3 pm?" question: mean value per
    // (weekday, hour-of-day) cell. Day-of-week conventions are a classic
    // cross-engine trap (Spark dayofweek is 1=Sunday, DuckDB's is
    // 0=Sunday): both sides use the ISO convention — Spark weekday()
    // (0=Monday) ≡ DuckDB isodow()−1. Means are halfUpMean6 (cell counts
    // routinely hit the 2-adic round-on-quotient shapes). One hash
    // aggregate into ≤ 7×24 cells — compression is the whole plan.
    QuerySpec("ts46_weekday_profile", (s, dir) =>
      ev(s, dir)
        .groupBy(expr("weekday(ts)").cast("long").as("dow"),
          expr("hour(ts)").cast("long").as("hod"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("sx"))
        .withColumn("mean_value", halfUpMean6("sx", "n"))
        .select(col("dow"), col("hod"), col("n"), col("mean_value"))
        .orderBy(col("dow"), col("hod")),
      // isodow−1 ≡ Spark weekday (ISO, 0=Monday); halfUpMean6 oracle twin
      """SELECT CAST(isodow(CAST(ts AS DATE)) - 1 AS BIGINT) AS dow,
        |  CAST(hour(ts) AS BIGINT) AS hod,
        |  COUNT(*) AS n,
        |  CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000
        |          AS BIGINT)
        |        + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0
        |    AS mean_value
        |FROM events GROUP BY dow, hod
        |ORDER BY dow, hod""".stripMargin),

    // GAPS-AND-ISLANDS SESSIONIZATION (batch twin of gs14's streaming
    // sessions): per-user event islands split at >30 min silence — the
    // classic lag → break-flag → running-sum pattern every funnel/
    // retention analysis starts from. All arithmetic is integer µs, so
    // both engines agree bit-for-bit. Scale shape: the window partitions
    // by user_id (millions of independent partitions — one shuffle, no
    // global ordering anywhere); the island aggregate reuses the same
    // hash key. Duration comes from MAX−MIN, and the only window SUM
    // (the island id) is CAST in the oracle's final projection — DuckDB
    // would otherwise type it HUGEINT (the round-9 class, now gated).
    QuerySpec("ts47_user_sessions", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      ev(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull
            || col("us") - col("prev") > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sid").as("session_seq"),
          col("start_us"), col("end_us"),
          (col("end_us") - col("start_us")).as("dur_us"), col("n_events"))
        .orderBy(col("user_id"), col("session_seq"))
    },
      // lag → break-flag → running-sum islands; all integer µs. The island
      // id is a window SUM, so the final projection pins it to BIGINT
      // (DuckDB types window SUM(INTEGER) as HUGEINT — the typed-sum rule)
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |f AS (
        |  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
        |      OR us - LAG(us) OVER w > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_seq,
        |  MIN(us) AS start_us, MAX(us) AS end_us,
        |  MAX(us) - MIN(us) AS dur_us, COUNT(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_seq""".stripMargin),

    // SEASONAL-NAIVE FORECAST BASELINE (MASE-style): how much better is
    // "same hour yesterday" than "previous hour" as a zero-parameter
    // forecast of the hourly mean? mase < 1 ⇒ the series is seasonal
    // enough that the lag-24 naive beats the lag-1 naive — the go/no-go
    // check run before fitting ts18's Holt-Winters. Determinism: hourly
    // means are EXACT half-up micro-unit integers (the halfUpMean6
    // kernel kept in BIGINT form), so the |Δ| accumulations are exact
    // integer sums; the final ratio is three IEEE divisions on identical
    // operands in identical order on both engines. Scale shape: events
    // compress to one row per (type, hour) FIRST; both lag joins ride
    // that tiny frame on its (type, hour) hash key.
    QuerySpec("ts48_seasonal_baseline", (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hr"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("sx"))
        .withColumn("s_us", expr("cast(sx * 1000000 as bigint)"))
        .withColumn("hm_us", expr("(2 * s_us + n) div (2 * n)"))
        .select(col("event_type"), col("hr"), col("hm_us"))
      def lagged(off: Int) = hourly.select(col("event_type"),
        (col("hr") + off).as("hr"), col("hm_us").as("prev_us"))
      def mae(off: Int, sc: String, nc: String) =
        hourly.join(lagged(off), Seq("event_type", "hr"))
          .groupBy(col("event_type"))
          .agg(sum(abs(col("hm_us") - col("prev_us"))).as(sc),
            count(lit(1)).as(nc))
      mae(24, "s24_us", "n24")
        .join(mae(1, "s1_us", "n1"), Seq("event_type"))
        .withColumn("mase",
          (col("s24_us").cast("double") / col("n24").cast("double"))
            / (col("s1_us").cast("double") / col("n1").cast("double")))
        .select(col("event_type"), col("n24"), col("s24_us"),
          col("n1"), col("s1_us"), col("mase"))
        .orderBy(col("event_type"))
    },
      // exact integer micro-unit hourly means (the halfUpMean6 kernel in
      // BIGINT form), exact |Δ| sums, three IEEE divisions in pinned order
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |      AS s_us
        |  FROM events GROUP BY 1, 2),
        |hm AS (SELECT event_type, hr, (2 * s_us + n) // (2 * n) AS hm_us
        |       FROM hourly),
        |m24 AS (
        |  SELECT a.event_type, SUM(abs(a.hm_us - b.hm_us)) AS s24_us,
        |    COUNT(*) AS n24
        |  FROM hm a JOIN hm b ON b.event_type = a.event_type
        |    AND b.hr = a.hr - 24
        |  GROUP BY 1),
        |m1 AS (
        |  SELECT a.event_type, SUM(abs(a.hm_us - b.hm_us)) AS s1_us,
        |    COUNT(*) AS n1
        |  FROM hm a JOIN hm b ON b.event_type = a.event_type
        |    AND b.hr = a.hr - 1
        |  GROUP BY 1)
        |SELECT m24.event_type, n24, CAST(s24_us AS BIGINT) AS s24_us,
        |  n1, CAST(s1_us AS BIGINT) AS s1_us,
        |  (CAST(s24_us AS DOUBLE) / CAST(n24 AS DOUBLE))
        |    / (CAST(s1_us AS DOUBLE) / CAST(n1 AS DOUBLE)) AS mase
        |FROM m24 JOIN m1 USING (event_type)
        |ORDER BY event_type""".stripMargin),

    // SLO BURN-RATE — the Google-SRE multi-window alert ts32's
    // threshold-for-duration rule can't express: alarm only when the
    // SHORT-window error rate (1 h — fast detection) AND the LONG-window
    // rate (6 h — burn confirmation) both exceed their thresholds, which
    // suppresses both blips and slow-bleed false negatives. Rates are
    // unrounded integer-ratio IEEE divisions; the 6 h sums use a RANGE
    // frame on the integer hour index so missing hours count as empty
    // instead of silently shrinking the window (a ROWS frame would be
    // wrong on sparse hours). Scale shape: events compress to one row
    // per hour FIRST; the unpartitioned window then runs over the tiny
    // |hours| frame, not the event stream.
    QuerySpec("ts45_burn_rate", (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
          .as("hi"))
        .agg(count(lit(1)).as("n_tot"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_err"))
      val w6 = Window.orderBy(col("hi")).rangeBetween(-5, 0)
      hourly
        .withColumn("n_tot_6h", sum(col("n_tot")).over(w6))
        .withColumn("n_err_6h", sum(col("n_err")).over(w6))
        .withColumn("r1",
          col("n_err").cast("double") / col("n_tot").cast("double"))
        .withColumn("r6",
          col("n_err_6h").cast("double") / col("n_tot_6h").cast("double"))
        .withColumn("burn_alert", col("r1") > 0.25 && col("r6") > 0.22)
        .select(col("hi"), col("n_tot"), col("n_err"), col("n_tot_6h"),
          col("n_err_6h"), col("r1"), col("r6"), col("burn_alert"))
        .orderBy(col("hi"))
    },
      // hourly compression + the same integer-indexed RANGE frame; casts
      // pin DuckDB's HUGEINT sums back to BIGINT
      """WITH hourly AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hi,
        |    COUNT(*) AS n_tot,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_err
        |  FROM events GROUP BY hi),
        |w AS (
        |  SELECT hi, n_tot, n_err,
        |    CAST(SUM(n_tot) OVER (ORDER BY hi
        |      RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS n_tot_6h,
        |    CAST(SUM(n_err) OVER (ORDER BY hi
        |      RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS n_err_6h
        |  FROM hourly)
        |SELECT hi, n_tot, n_err, n_tot_6h, n_err_6h,
        |  CAST(n_err AS DOUBLE) / n_tot AS r1,
        |  CAST(n_err_6h AS DOUBLE) / n_tot_6h AS r6,
        |  CAST(n_err AS DOUBLE) / n_tot > 0.25
        |    AND CAST(n_err_6h AS DOUBLE) / n_tot_6h > 0.22 AS burn_alert
        |FROM w ORDER BY hi""".stripMargin),

    // ROLLING DISTINCT — 7-day active users per event_type, the window
    // aggregate that CANNOT decompose (distinct isn't summable across
    // days, so no partial-merge trick exists; ts20's HLL rollup is the
    // sketch escape hatch, this is the EXACT path). The distributed-exact
    // shape: dedup to (type, user, day) FIRST (the fan-out multiplier
    // then applies to distinct user-days, not raw events), explode each
    // into its ≤ 7 target windows, dedup again on (type, user, window),
    // and count — two hash-keyed dedups and a bounded 7× fan-out, no
    // per-window re-scan, no window function over an unbounded set.
    // Output only for days the type actually has (inner join to the
    // day frame).
    // Single-scan formulation (round-9 plan audit): the naive shape
    // referenced the distinct user-day frame three times (day frame,
    // fan-out, same-day counts) and column pruning made the three
    // subtrees non-identical, defeating ReuseExchange — THREE full event
    // scans. Carrying the MINIMUM fan-out offset per (user, window)
    // collapses all three: mo = 0 marks users active ON the day (the
    // 1-day count), group size is the 7-day count, and `n_active_1d ≥ 1`
    // reproduces the only-days-present-in-data frame without a join.
    // One events scan, two hash shuffles, no joins at all.
    QuerySpec("ts44_rolling_distinct", (s, dir) =>
      ev(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("user_id"))
        .distinct()
        .select(col("event_type"), col("user_id"), col("day"),
          explode(expr("sequence(0, 6)")).as("o"))
        .select(col("event_type"), col("user_id"), col("o"),
          expr("date_add(day, cast(o as int))").as("wday"))
        .groupBy(col("event_type"), col("user_id"), col("wday"))
        .agg(min(col("o")).as("mo"))
        .groupBy(col("event_type"), col("wday").as("day"))
        .agg(count(lit(1)).as("n_active_7d"),
          sum(when(col("mo") === 0, 1L).otherwise(0L)).as("n_active_1d"))
        .filter(col("n_active_1d") >= 1)
        .select(col("event_type"), col("day"), col("n_active_1d"),
          col("n_active_7d"))
        .orderBy(col("event_type"), col("day")),
      // same dedup → 7-way fan-out → dedup → count; day + o is DATE
      // integer-day arithmetic on both engines
      """WITH du AS (
        |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |fan AS (
        |  SELECT event_type, user_id,
        |    day + CAST(o AS INTEGER) AS wday, MIN(o) AS mo
        |  FROM du, range(0, 7) t(o)
        |  GROUP BY event_type, user_id, wday),
        |agg AS (
        |  SELECT event_type, wday AS day,
        |    COUNT(*) AS n_active_7d,
        |    CAST(SUM(CASE WHEN mo = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_active_1d
        |  FROM fan GROUP BY event_type, wday)
        |SELECT event_type, day, n_active_1d, n_active_7d
        |FROM agg WHERE n_active_1d >= 1
        |ORDER BY event_type, day""".stripMargin),

    // NEAREST-direction as-of join (pandas merge_asof direction='nearest')
    // — ts04 answers "what was the state BEFORE this event"; this answers
    // "which purchase does this click belong to", where the match may sit
    // on either side of the click (attribution, sensor alignment, label
    // propagation to the closest reading). One shuffle on the user key,
    // two window passes over the SAME exchange (asc + desc), arithmetic
    // pick with the deterministic backward tie rule — see
    // [[graft.operators.AsOfJoin.joinAsOfNearest]]. The right side is
    // deduped per (user, µs) first (the operator's uniqueness contract);
    // the left is a 1/10 sample so the oracle's per-key candidate join
    // stays bounded.
    QuerySpec("ts43_asof_nearest", (s, dir) => {
      val e = ev(s, dir)
      val clicks = e
        .filter(col("event_type") === "click" && col("event_id") % 10 === 0)
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(min_by(struct(col("event_id"), col("value")), col("event_id"))
          .as("p"))
        .select(col("user_id"), col("ts"), col("p.event_id").as("p_id"),
          col("p.value").as("p_value"))
      graft.operators.AsOfJoin.joinAsOfNearest(clicks, purchases, "user_id",
          "ts", "ts", Seq("p_id", "p_value"), prefix = "near_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("near_p_id").as("near_purchase_id"),
          col("near_match_ts").as("near_ts_us"),
          col("near_p_value").as("near_value"),
          when(col("near_match_ts").isNull, lit(null).cast("string"))
            .when(col("near_match_ts") <= unix_micros(col("ts")),
              lit("backward"))
            .otherwise(lit("forward")).as("direction"))
        .orderBy(col("event_id"))
    },
      // candidate-join replay of the nearest pick: rank per click by
      // (|Δt|, earlier-first) — the second key IS the backward tie rule;
      // LEFT JOIN keeps clicks whose user never purchased
      """WITH l AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click' AND event_id % 10 = 0),
        |r0 AS (
        |  SELECT user_id, epoch_us(ts) AS rts, value, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
        |      ORDER BY event_id) AS dn
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, rts, value, event_id FROM r0 WHERE dn = 1),
        |cand AS (
        |  SELECT l.event_id, r.event_id AS p_id, r.rts, r.value,
        |    ROW_NUMBER() OVER (PARTITION BY l.event_id
        |      ORDER BY abs(r.rts - l.ts_us), r.rts) AS rk
        |  FROM l JOIN r USING (user_id))
        |SELECT l.event_id, l.user_id, l.ts_us,
        |  c.p_id AS near_purchase_id, c.rts AS near_ts_us,
        |  c.value AS near_value,
        |  CASE WHEN c.p_id IS NULL THEN NULL
        |       WHEN c.rts <= l.ts_us THEN 'backward'
        |       ELSE 'forward' END AS direction
        |FROM l LEFT JOIN (SELECT * FROM cand WHERE rk = 1) c
        |  ON c.event_id = l.event_id
        |ORDER BY l.event_id""".stripMargin),

    // Cross-correlation — ts27 asks "does a series repeat itself?"; ts28
    // asks "does series A LEAD series B?" (the ops question behind
    // cause-effect dashboards): Pearson r between A's hourly-mean series
    // and B's shifted by lag ∈ [−3, +3] hours, for every unordered type
    // pair (corr(A,B,L) = corr(B,A,−L), so ordered pairs add nothing).
    // Alignment keys on INTEGER epoch-hours (no interval arithmetic to
    // diverge); bucket means are 6-dp-rounded from exact-decimal sums, so
    // the per-(pair, lag) moment sums are exact decimals and the final r
    // is ONE fixed IEEE tree both engines evaluate identically. Scale
    // shape: the bucket frame is |types| × |hours| rows — aggregation
    // compresses first, so the lag join runs on the TINY frame.
    QuerySpec("ts28_cross_correlation", (s, dir) => {
      val b = ev(s, dir)
        .groupBy(col("event_type"),
          (unix_micros(date_trunc("hour", col("ts"))) / lit(3600000000L))
            .as("hi"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("sx"))
        .select(col("event_type"),  col("hi"),
          halfUpMean6("sx", "n").as("m"))
      val a = b.select(col("event_type").as("ta"), col("hi").as("ha"),
        col("m").as("xa"))
      val bb = b.select(col("event_type").as("tb"), col("hi").as("hb"),
        col("m").as("xb"))
      val lagDf = s.range(-3, 4).toDF("lag")
      val mom = a.crossJoin(broadcast(lagDf))
        .join(bb, col("ta") < col("tb") && col("hb") === col("ha") + col("lag"))
        .groupBy(col("ta"), col("tb"), col("lag"))
        .agg(count(lit(1)).as("n"),
          sum(col("xa").cast("decimal(18,6)")).as("sx"),
          sum(col("xb").cast("decimal(18,6)")).as("sy"),
          sum(expr("cast(round(xa * xb, 12) as decimal(28,12))")).as("sxy"),
          sum(expr("cast(round(xa * xa, 12) as decimal(28,12))")).as("sxx"),
          sum(expr("cast(round(xb * xb, 12) as decimal(28,12))")).as("syy"))
      mom
        .withColumn("vx", col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
        .withColumn("vy", col("n").cast("double") * col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double"))
        .select(col("ta"), col("tb"), col("lag"), col("n").as("n_overlap"),
          round(when(col("vx") > 0.0 && col("vy") > 0.0,
            (col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
              / sqrt(col("vx") * col("vy"))), 6).as("xcorr"))
        .orderBy(col("ta"), col("tb"), col("lag"))
    },
      // same integer epoch-hour alignment, same exact-decimal moment sums,
      // same single IEEE tree for r
      """WITH b AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS hi,
        |    CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |          + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS m
        |  FROM events GROUP BY event_type, hi),
        |lags AS (SELECT unnest(range(-3, 4)) AS lag),
        |mom AS (
        |  SELECT a.event_type AS ta, c.event_type AS tb, l.lag,
        |    COUNT(*) AS n,
        |    SUM(CAST(a.m AS DECIMAL(18,6))) AS sx,
        |    SUM(CAST(c.m AS DECIMAL(18,6))) AS sy,
        |    SUM(CAST(ROUND(a.m * c.m, 12) AS DECIMAL(28,12))) AS sxy,
        |    SUM(CAST(ROUND(a.m * a.m, 12) AS DECIMAL(28,12))) AS sxx,
        |    SUM(CAST(ROUND(c.m * c.m, 12) AS DECIMAL(28,12))) AS syy
        |  FROM b a
        |  JOIN lags l ON true
        |  JOIN b c ON a.event_type < c.event_type AND c.hi = a.hi + l.lag
        |  GROUP BY ta, tb, l.lag),
        |v AS (
        |  SELECT *,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
        |  FROM mom)
        |SELECT ta, tb, CAST(lag AS BIGINT) AS lag, n AS n_overlap,
        |  ROUND(CASE WHEN vx > 0.0 AND vy > 0.0 THEN
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / sqrt(vx * vy)
        |  END, 6) AS xcorr
        |FROM v ORDER BY ta, tb, lag""".stripMargin),

    // OHLC/VWAP bar downsampling — the financial-market shape of the
    // Grafana aggregateWindow family (ts03 keeps one statistic per bucket;
    // candlestick panels need FIVE: open/high/low/close + volume-weighted
    // mean). open/close are `min_by`/`max_by` keyed on (ts, event_id) — a
    // total order, so ties on ts can't make the bar nondeterministic — and
    // both ride the SAME partial+final hash aggregate as the min/max/sum
    // columns: one shuffle keyed on (event_type, day), no sort, no window.
    // VWAP weighs price by the `props.k` quantity with exact-decimal
    // price×qty sums (value has 2 decimals, k is an integer — DECIMAL(28,6)
    // is exact) so the aggregation order can't move the 6th decimal.
    QuerySpec("ts29_ohlc_bars", (s, dir) =>
      ev(s, dir)
        .withColumn("day", to_date(col("ts")))
        .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"), col("day"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          count(lit(1)).as("n_trades"),
          sum(col("qty")).as("volume"),
          sum(expr("cast(round(value * qty, 6) as decimal(28,6))")).as("pv"))
        .select(col("event_type"), col("day"), col("open"), col("high"),
          col("low"), col("close"), col("n_trades"), col("volume"),
          // UNROUNDED single IEEE division of two exact values (pv is
          // DECIMAL(28,6), volume a BIGINT): bit-identical on any IEEE-754
          // engine. A round(·,6) here was engine-dependent when the
          // quotient landed on a 6th-decimal half-way point (ts09
          // precedent) — so no rounding at all.
          (col("pv").cast("double") / col("volume").cast("double"))
            .as("vwap"))
        .orderBy(col("event_type"), col("day")),
      // Portability note (round 9): the previous form used DuckDB's
      // json_extract_string and in-aggregate first/last(... ORDER BY ...) —
      // both version-sensitive across DuckDB releases (the only two red
      // oracles on the round-8 board were the only two using
      // json_extract_string). Rewritten to the q17-proven regexp_extract
      // form plus a plain window-rank CTE (ANSI, identical on every
      // DuckDB) — value-identical to the json form on this data, where
      // props is always {"k": N}.
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, value,
        |    CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS qty
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, day
        |      ORDER BY ts, event_id) AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, day
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, day,
        |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  MAX(value) AS high,
        |  MIN(value) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  COUNT(*) AS n_trades,
        |  CAST(SUM(qty) AS BIGINT) AS volume,
        |  CAST(SUM(CAST(ROUND(value * qty, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |    / CAST(SUM(qty) AS DOUBLE) AS vwap
        |FROM r
        |GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin),

    // 1-D local-level Kalman filter — the optimal-denoiser upgrade of
    // ts21's fixed-α EMA: the smoothing weight is the Kalman GAIN,
    // re-derived per step from the running state variance (high trust
    // early, steady-state later). Noise parameters the textbook way from
    // per-series exact-decimal moments: R = series variance, Q = R/10
    // (signal drifts an order of magnitude slower than it's observed).
    // The predict→gain→update recursion has no closed form, so it runs as
    // a per-series sequential kernel ([[graft.operators.Kalman]]) inside
    // flatMapGroups — data-parallel across series keys, ONE shuffle on
    // the series key; the parameter frame is |series| rows broadcast
    // back. Every step-assignment is 6-dp-rounded, so the DuckDB WITH
    // RECURSIVE replay reproduces the doubles bit-for-bit.
    QuerySpec("ts30_kalman_filter", (s, dir) => {
      val sp = s
      import sp.implicits._
      val base = ev(s, dir).select(col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
      val params = base
        .withColumn("xd", col("value").cast("decimal(18,6)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("xd")).as("sx"),
          sum((col("xd") * col("xd")).cast("decimal(38,12)")).as("sxx"))
        .withColumn("rr", round(greatest(lit(1e-6),
          col("sxx").cast("double") / col("n") -
            (col("sx").cast("double") / col("n")) *
            (col("sx").cast("double") / col("n"))), 6))
        .select(col("event_type"), col("rr"),
          // qq = halfUp6(rr/10) in integer micro units: rr sits on the
          // 6-dp grid, so rr/10 has a 7th decimal digit that is exactly 5
          // one time in ten — a double round(rr/10, 6) is the ts29 class
          // at 10% density. (R+5) div 10 is the same half-up exactly.
          expr("cast((cast(round(rr * 1000000) as bigint) + 5) div 10" +
            " as double) / 1e6").as("qq"))
      base.join(broadcast(params), Seq("event_type"))
        .select(col("event_type"), col("ts_us"), col("event_id"),
          col("value"), col("qq"), col("rr"))
        .as[(String, Long, Long, Double, Double, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (g, it) =>
          val rows = it.toArray
          val pts = rows.map(r => graft.operators.Kalman.Point(r._2, r._3, r._4))
            .sortBy(p => (p.tsUs, p.id))
          val (qq, rr) = (rows(0)._5, rows(0)._6)
          graft.operators.Kalman.run(pts, qq, rr).iterator
            .map(st => (g, st.tsUs, st.id, st.z, st.xHat, st.p, st.kGain))
        }
        .toDF("event_type", "ts_us", "event_id", "value", "x_hat", "p_var",
          "k_gain")
        .orderBy(col("event_type"), col("ts_us"), col("event_id"))
    },
      // step-for-step Kalman replay: same exact-decimal parameter moments
      // (R = variance clamped at 1e-6, Q = R/10), same 6-dp-rounded
      // predict→gain→update recursion; init x₁ = z₁, P₁ = R, K₁ = 1
      """WITH RECURSIVE
        |pts AS (
        |  SELECT event_type AS g, epoch_us(ts) AS ts_us, event_id, value AS z,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS BIGINT) AS i
        |  FROM events),
        |st AS (
        |  SELECT event_type AS g, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sx,
        |    SUM(CAST(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6))
        |        AS DECIMAL(38,12))) AS sxx
        |  FROM events GROUP BY event_type),
        |pr AS (
        |  SELECT g, rr,
        |    CAST((CAST(ROUND(rr * 1000000) AS BIGINT) + 5) // 10 AS DOUBLE)
        |      / 1000000.0 AS qq
        |  FROM (SELECT g,
        |    ROUND(greatest(1e-6, CAST(sxx AS DOUBLE) / n
        |      - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)), 6) AS rr
        |  FROM st)),
        |rec AS (
        |  SELECT p.g, p.i, p.ts_us, p.event_id, p.z,
        |    ROUND(p.z, 6) AS x, ROUND(r.rr, 6) AS pv,
        |    CAST(1.0 AS DOUBLE) AS kg
        |  FROM pts p JOIN pr r USING (g) WHERE p.i = 1
        |  UNION ALL
        |  SELECT p.g, p.i, p.ts_us, p.event_id, p.z,
        |    ROUND(q.x + ROUND(
        |      ROUND(ROUND(q.pv + r.qq, 6) / (ROUND(q.pv + r.qq, 6) + r.rr), 6)
        |      * ROUND(p.z - q.x, 6), 6), 6),
        |    ROUND((1.0 -
        |      ROUND(ROUND(q.pv + r.qq, 6) / (ROUND(q.pv + r.qq, 6) + r.rr), 6))
        |      * ROUND(q.pv + r.qq, 6), 6),
        |    ROUND(ROUND(q.pv + r.qq, 6) / (ROUND(q.pv + r.qq, 6) + r.rr), 6)
        |  FROM rec q
        |  JOIN pts p ON p.g = q.g AND p.i = q.i + 1
        |  JOIN pr r ON r.g = p.g)
        |SELECT g AS event_type, ts_us, event_id, z AS value,
        |  x AS x_hat, pv AS p_var, kg AS k_gain
        |FROM rec ORDER BY event_type, ts_us, event_id""".stripMargin),

    // M4 visual downsampling (Jugel et al., VLDB 2014) — the OTHER chart
    // downsampler: where LTTB (ts24) picks perceptually-salient points via
    // a sequential kernel, M4 is pixel-EXACT for line charts (keeping
    // min/max/first/last per pixel column reproduces every lit pixel) and,
    // crucially for scale, it is a PURE HASH AGGREGATE — no sort, no
    // sequential pass, one shuffle on (series, bucket), map-side partials
    // do most of the work. Buckets are w=100 equal time-slices of each
    // series' [min, max] span computed in ALL-INTEGER µs arithmetic
    // ((ts−t0)·w div span — exact, no FP boundary drift); first/last are
    // min_by/max_by on the (ts, event_id) total order.
    QuerySpec("ts31_m4_downsample", (s, dir) => {
      val w = 100
      val base = ev(s, dir).select(col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
      val spans = base.groupBy(col("event_type"))
        .agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
      base.join(broadcast(spans), Seq("event_type"))
        .withColumn("bucket",
          expr(s"least(CAST(${w - 1} AS BIGINT), " +
            s"(ts_us - t0) * ${w} div (t1 - t0 + 1))"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(
          min(col("value")).as("v_min"),
          max(col("value")).as("v_max"),
          min_by(col("value"), struct(col("ts_us"), col("event_id")))
            .as("v_first"),
          max_by(col("value"), struct(col("ts_us"), col("event_id")))
            .as("v_last"),
          min(col("ts_us")).as("t_first"),
          max(col("ts_us")).as("t_last"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("bucket"))
    },
      // same all-integer bucket arithmetic; first/last by (ts, event_id)
      """WITH pts AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value
        |  FROM events),
        |sp AS (
        |  SELECT event_type, MIN(ts_us) AS t0, MAX(ts_us) AS t1
        |  FROM pts GROUP BY event_type),
        |b AS (
        |  SELECT p.event_type, p.ts_us, p.event_id, p.value,
        |    least(99, (p.ts_us - s.t0) * 100 // (s.t1 - s.t0 + 1)) AS bucket
        |  FROM pts p JOIN sp s USING (event_type))
        |SELECT event_type, bucket,
        |  MIN(value) AS v_min,
        |  MAX(value) AS v_max,
        |  first(value ORDER BY ts_us, event_id) AS v_first,
        |  last(value ORDER BY ts_us, event_id) AS v_last,
        |  MIN(ts_us) AS t_first,
        |  MAX(ts_us) AS t_last,
        |  COUNT(*) AS n
        |FROM b GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin),

    // ALERT RULES with a FOR-duration (the Grafana/Prometheus alerting
    // contract the reference's dashboards imply): "alert when value > 50
    // FOR 3 consecutive points" — the pending period suppresses one-point
    // blips (exactly what raw threshold filters get wrong). An episode is
    // a maximal run of above-threshold points with length ≥ 3; it FIRES
    // at its 3rd point (end of the pending window) and CLEARS after its
    // last. Pure gaps-and-islands: two row_numbers on ONE series-key sort
    // → island group; per-island position picks the firing point — a
    // single shuffle, no sequential kernel needed because the rule is a
    // pure function of the run, not a recursion.
    QuerySpec("ts32_alert_rules", (s, dir) => {
      val wAll = Window.partitionBy(col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
      // islands of CONSECUTIVE above-threshold points need global
      // positions: rank the full series, keep survivors' (rn - rs)
      val all = ev(s, dir).select(col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
        .withColumn("rn", row_number().over(wAll))
        .filter(col("value") > 50.0)
      val isl = all.withColumn("rs", row_number().over(wAll))
        .withColumn("grp", col("rn") - col("rs"))
      val wIsland = Window.partitionBy(col("event_type"), col("grp"))
        .orderBy(col("ts_us"), col("event_id"))
      isl.withColumn("pos", row_number().over(wIsland))
        .groupBy(col("event_type"), col("grp"))
        .agg(count(lit(1)).as("n_points"),
          min(when(col("pos") === 3, col("ts_us"))).as("fire_us"),
          max(col("ts_us")).as("clear_us"),
          max(col("value")).as("peak"))
        .filter(col("n_points") >= 3)
        .select(col("event_type"), col("fire_us"), col("clear_us"),
          col("n_points"), col("peak"))
        .orderBy(col("event_type"), col("fire_us"))
    },
      // same islands: global rank minus survivor rank; fire at pos 3
      """WITH pts AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |c AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY ts_us, event_id) AS rs
        |  FROM pts WHERE value > 50),
        |i AS (
        |  SELECT *, rn - rs AS grp,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, rn - rs
        |      ORDER BY ts_us, event_id) AS pos
        |  FROM c)
        |SELECT event_type,
        |  MIN(CASE WHEN pos = 3 THEN ts_us END) AS fire_us,
        |  MAX(ts_us) AS clear_us,
        |  COUNT(*) AS n_points,
        |  MAX(value) AS peak
        |FROM i GROUP BY event_type, grp HAVING COUNT(*) >= 3
        |ORDER BY event_type, fire_us""".stripMargin),

    // CLASSICAL additive decomposition x = trend + seasonal + resid over
    // the hourly series (period 24): trend is the textbook 2×24 CENTERED
    // moving average (two offset 24-row sums, halved — the standard
    // even-period construction), seasonal is the hour-of-day mean of the
    // detrended series re-centered to sum ~0, resid is what's left. Where
    // ts23 fits a FORECAST (seasonal index + double smoothing), this is
    // the decomposition VIEW itself — the first thing an analyst plots.
    // Scale shape: one hourly hash-aggregate, two frames over the same
    // sort (ONE shuffle on the series key — rank/window machinery shares
    // the partition), a 24-row-per-series seasonal aggregate broadcast
    // back. Numerics: the ÷48 trend and the two seasonal means are
    // computed in exact INTEGER micro-units with explicit half-up
    // (tx25's discipline) — these quotients land exactly ON half-micro
    // points where the engines' double round() diverges (observed on
    // this corpus); the means ride a +10000 offset so the half-up
    // division stays in positive integers (Spark `div` truncates,
    // DuckDB `//` floors — they agree only for non-negatives).
    // Differences of micro-grid values are micro-grid, so the remaining
    // round() calls sit maximally far from any boundary.
    QuerySpec("ts33_decompose", (s, dir) =>
      decomposeHourly(s, dir)
        .select(col("g").as("event_type"), col("h_us"), col("x"),
          col("trend"), col("sidx"), col("resid"))
        .orderBy(col("event_type"), col("h_us")),
      // the same 2×24 centered MA + hour-of-day seasonal replay
      s"""WITH $decomposeSql
         |SELECT g AS event_type, h_us, x, trend, sidx, resid
         |FROM dc ORDER BY event_type, h_us""".stripMargin),

    // SEASONAL / TREND STRENGTH (Hyndman & Athanasopoulos FPP3 §4.4's
    // STL-feature measures): F_s = max(0, 1 − Var(resid)/Var(sidx+resid))
    // and F_t = max(0, 1 − Var(resid)/Var(trend+resid)) over ts33's
    // components — ONE aggregate turning the decomposition into the
    // two numbers a seasonality-detection pipeline actually thresholds.
    // Variances are computed from exact decimal power sums (values sit on
    // the 6-dp grid, squares on the 12-dp grid — DECIMAL(38,12) is
    // lossless) with the single final division/subtraction tree in IEEE,
    // rounded once.
    QuerySpec("ts36_seasonal_strength", (s, dir) => {
      def varCols(c: String) = Seq(
        sum(col(c).cast("decimal(18,6)")).as(s"s_$c"),
        sum((col(c).cast("decimal(18,6)") * col(c).cast("decimal(18,6)"))
          .cast("decimal(38,12)")).as(s"q_$c"))
      val comp = decomposeHourly(s, dir)
        .withColumn("sr", round(col("sidx") + col("resid"), 6))
        .withColumn("tr2", round(col("trend") + col("resid"), 6))
      comp.groupBy(col("g").as("event_type"))
        .agg(count(lit(1)).as("n"),
          (varCols("resid") ++ varCols("sr") ++ varCols("tr2")): _*)
        .withColumn("var_resid",
          expr("cast(q_resid as double) / n - (cast(s_resid as double) / n) * (cast(s_resid as double) / n)"))
        .withColumn("var_sr",
          expr("cast(q_sr as double) / n - (cast(s_sr as double) / n) * (cast(s_sr as double) / n)"))
        .withColumn("var_tr",
          expr("cast(q_tr2 as double) / n - (cast(s_tr2 as double) / n) * (cast(s_tr2 as double) / n)"))
        .select(col("event_type"), col("n"),
          round(greatest(lit(0.0), lit(1.0) - col("var_resid") / col("var_sr")), 6)
            .as("seasonal_strength"),
          round(greatest(lit(0.0), lit(1.0) - col("var_resid") / col("var_tr")), 6)
            .as("trend_strength"))
        .orderBy(col("event_type"))
    },
      // Hyndman's strength measures over the same components: variances
      // from exact decimal power sums, one IEEE tree each, rounded once
      s"""WITH $decomposeSql,
         |c AS (SELECT g, resid, ROUND(sidx + resid, 6) AS sr,
         |             ROUND(trend + resid, 6) AS tr2 FROM dc),
         |a AS (
         |  SELECT g, COUNT(*) AS n,
         |    SUM(CAST(resid AS DECIMAL(18,6))) AS s_resid,
         |    SUM(CAST(CAST(resid AS DECIMAL(19,6)) * CAST(resid AS DECIMAL(19,6))
         |        AS DECIMAL(38,12))) AS q_resid,
         |    SUM(CAST(sr AS DECIMAL(18,6))) AS s_sr,
         |    SUM(CAST(CAST(sr AS DECIMAL(19,6)) * CAST(sr AS DECIMAL(19,6))
         |        AS DECIMAL(38,12))) AS q_sr,
         |    SUM(CAST(tr2 AS DECIMAL(18,6))) AS s_tr2,
         |    SUM(CAST(CAST(tr2 AS DECIMAL(19,6)) * CAST(tr2 AS DECIMAL(19,6))
         |        AS DECIMAL(38,12))) AS q_tr2
         |  FROM c GROUP BY g)
         |SELECT g AS event_type, n,
         |  ROUND(GREATEST(0.0, 1.0 -
         |    (CAST(q_resid AS DOUBLE) / n
         |      - (CAST(s_resid AS DOUBLE) / n) * (CAST(s_resid AS DOUBLE) / n))
         |    / (CAST(q_sr AS DOUBLE) / n
         |      - (CAST(s_sr AS DOUBLE) / n) * (CAST(s_sr AS DOUBLE) / n))), 6)
         |    AS seasonal_strength,
         |  ROUND(GREATEST(0.0, 1.0 -
         |    (CAST(q_resid AS DOUBLE) / n
         |      - (CAST(s_resid AS DOUBLE) / n) * (CAST(s_resid AS DOUBLE) / n))
         |    / (CAST(q_tr2 AS DOUBLE) / n
         |      - (CAST(s_tr2 AS DOUBLE) / n) * (CAST(s_tr2 AS DOUBLE) / n))), 6)
         |    AS trend_strength
         |FROM a ORDER BY event_type""".stripMargin),

    // FORECAST BACKTEST — the evaluation half every forecaster (ts22/ts23)
    // needs: per series, the mean absolute error of the PERSISTENCE
    // forecast (x̂ᵢ = xᵢ₋₁) and the SEASONAL-NAIVE forecast (x̂ᵢ = xᵢ₋₇,
    // MASE's scaling denominator per Hyndman & Koehler 2006), evaluated
    // on the common i > 7 support, plus their ratio (< 1 ⟺ weekly
    // seasonality carries real signal). Scale shape: one daily
    // hash-aggregate, two lags on ONE series-key sort, one tiny final
    // aggregate. Numerics: |grid − grid| errors are grid-exact decimals;
    // both MAEs are integer-micro half-up quotients (positive, so no
    // div/floor offset needed); the ratio is one IEEE division of two
    // exact integers, NULL when the naive error is zero.
    QuerySpec("ts34_forecast_backtest", (s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("day"))
      val daily = ev(s, dir)
        .groupBy(col("event_type").as("g"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("nd"), sum(sumExactCol(col("value"))).as("sd"))
        .withColumn("x", halfUpMean6("sd", "nd"))
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("lag1", lag(col("x"), 1).over(w))
        .withColumn("lag7", lag(col("x"), 7).over(w))
        .filter(col("i") > 7)
        .withColumn("ep", abs(col("x") - col("lag1")))
        .withColumn("es", abs(col("x") - col("lag7")))
      daily.groupBy(col("g").as("event_type"))
        .agg(count(lit(1)).as("n_eval"),
          sum(sumExactCol(col("ep"))).as("sp"),
          sum(sumExactCol(col("es"))).as("ss"))
        .withColumn("pm",
          expr("(2 * cast(sp * 1000000 as bigint) + n_eval) div (2 * n_eval)"))
        .withColumn("sm",
          expr("(2 * cast(ss * 1000000 as bigint) + n_eval) div (2 * n_eval)"))
        .select(col("event_type"), col("n_eval"),
          (col("pm").cast("double") / 1e6).as("mae_persist"),
          (col("sm").cast("double") / 1e6).as("mae_snaive"),
          expr("cast(pm as double) / cast(nullif(sm, 0L) as double)")
            .as("mase_ratio"))
        .orderBy(col("event_type"))
    },
      // the same lag-1/lag-7 error arithmetic in integer micro-units
      """WITH d0 AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |    CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |          + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS x
        |  FROM events GROUP BY g, day),
        |d AS (
        |  SELECT g, day, x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY day) AS BIGINT) AS i,
        |    lag(x, 1) OVER (PARTITION BY g ORDER BY day) AS lag1,
        |    lag(x, 7) OVER (PARTITION BY g ORDER BY day) AS lag7
        |  FROM d0),
        |er AS (
        |  SELECT g, abs(x - lag1) AS ep, abs(x - lag7) AS es
        |  FROM d WHERE i > 7),
        |ag AS (
        |  SELECT g, COUNT(*) AS n_eval,
        |    CAST(SUM(CAST(ep AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS spm,
        |    CAST(SUM(CAST(es AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS ssm
        |  FROM er GROUP BY g),
        |mm AS (
        |  SELECT g, n_eval,
        |    (2 * spm + n_eval) // (2 * n_eval) AS pm,
        |    (2 * ssm + n_eval) // (2 * n_eval) AS sm
        |  FROM ag)
        |SELECT g AS event_type, n_eval,
        |  CAST(pm AS DOUBLE) / 1000000.0 AS mae_persist,
        |  CAST(sm AS DOUBLE) / 1000000.0 AS mae_snaive,
        |  CAST(pm AS DOUBLE) / CAST(nullif(sm, 0) AS DOUBLE) AS mase_ratio
        |FROM mm ORDER BY event_type""".stripMargin),

    // THEIL–SEN robust trend (Sen 1968): slope = the LOWER MEDIAN of all
    // pairwise slopes (xⱼ−xᵢ)/(j−i) per series — the outlier-resistant
    // alternative to least squares (breakdown point 29% vs 0). Intercept
    // = lower median of the per-point residuals xᵢ − slope·i. Lower
    // median (rank ⌈m/2⌉) rather than midpoint-average: the picked VALUE
    // is deterministic under any sort-by-value order and never invents a
    // half-way float. Each slope/residual is a single IEEE op chain over
    // grid/int inputs, so both engines rank identical doubles. Scale
    // shape: Theil–Sen is inherently O(n²) per SERIES — the right input
    // is a bounded downsampled series (here: ~30 daily points → ~435
    // pairs per series, one broadcast self-join); unbounded series want
    // the windowed repeated-median variant, same kernel.
    QuerySpec("ts35_theilsen_trend", (s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type").as("g"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("nd"), sum(sumExactCol(col("value"))).as("sd"))
        .withColumn("x", halfUpMean6("sd", "nd"))
        .withColumn("i", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("day"))).cast("long"))
        .select(col("g"), col("i"), col("x"))
      val a = daily.select(col("g"), col("i").as("ia"), col("x").as("xa"))
      val b = daily.select(col("g"), col("i").as("ib"), col("x").as("xb"))
      val slopes = a.join(broadcast(b), Seq("g"))
        .filter(col("ia") < col("ib"))
        .withColumn("slope",
          (col("xb") - col("xa")) / (col("ib") - col("ia")).cast("double"))
      val wS = Window.partitionBy(col("g")).orderBy(col("slope"))
      val med = slopes
        .withColumn("rn", row_number().over(wS).cast("long"))
        .withColumn("m", count(lit(1)).over(Window.partitionBy(col("g"))))
        .filter(col("rn") === expr("(m + 1) div 2"))
        .select(col("g"), col("m").as("n_pairs"), col("slope").as("ts_slope"))
      val wR = Window.partitionBy(col("g")).orderBy(col("resid"))
      daily.join(broadcast(med), Seq("g"))
        .withColumn("resid", col("x") - col("ts_slope") * col("i").cast("double"))
        .withColumn("rn", row_number().over(wR).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("g").as("event_type"), col("n").as("n_days"),
          col("n_pairs"), col("ts_slope"), col("resid").as("ts_intercept"))
        .orderBy(col("event_type"))
    },
      // pairwise slopes + lower-median selection replayed rank-for-rank
      """WITH d0 AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |    CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |          + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS x
        |  FROM events GROUP BY g, day),
        |d AS (
        |  SELECT g, x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY day) AS BIGINT) AS i
        |  FROM d0),
        |p AS (
        |  SELECT a.g, (b.x - a.x) / CAST(b.i - a.i AS DOUBLE) AS slope
        |  FROM d a JOIN d b ON a.g = b.g AND a.i < b.i),
        |ms AS (
        |  SELECT g, m AS n_pairs, slope AS ts_slope FROM (
        |    SELECT g, slope,
        |      CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY slope) AS BIGINT)
        |        AS rn,
        |      CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS m
        |    FROM p) WHERE rn = (m + 1) // 2),
        |r AS (
        |  SELECT d.g, ms.n_pairs, ms.ts_slope,
        |    d.x - ms.ts_slope * CAST(d.i AS DOUBLE) AS resid
        |  FROM d JOIN ms ON ms.g = d.g)
        |SELECT g AS event_type, n AS n_days, n_pairs, ts_slope,
        |  resid AS ts_intercept
        |FROM (
        |  SELECT g, n_pairs, ts_slope, resid,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY resid) AS BIGINT)
        |      AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM r) WHERE rn = (n + 1) // 2
        |ORDER BY event_type""".stripMargin),

    // SEASONAL-ROBUST ANOMALY DETECTION (the S-H-ESD idea, Hochenbaum/
    // Vallis/Kejariwal 2017, in its median/MAD form): ts25 z-scores the
    // RAW series, so a perfectly normal nightly dip looks anomalous;
    // here the seasonal+trend structure is REMOVED first (ts33's shared
    // [[decomposeHourly]]) and the robust score runs on the residual —
    // the detector that survives strong seasonality. Median and MAD are
    // LOWER MEDIANS by rank (ts35's rule: the picked VALUE is
    // deterministic under any tie order, no invented half-way floats);
    // the score |resid − med| / (1.4826·MAD) is one IEEE tree over
    // identical doubles on both engines, emitted unrounded. Scale shape:
    // the decomposition's one series-key shuffle dominates; both median
    // passes ride the SAME series-key partitioning (window rank, no new
    // exchange) and the med/MAD frames join back broadcast (|series|
    // rows). Per-series medians at 100 TB hourly grain are |hours| rows
    // per key — bounded by retention, not event volume.
    QuerySpec("ts37_seasonal_anomaly", (s, dir) => {
      val base = decomposeHourly(s, dir)
        .select(col("g"), col("h_us"), col("x"), col("resid"))
      val wg = Window.partitionBy(col("g"))
      val wm = Window.partitionBy(col("g")).orderBy(col("resid"))
      val med = base
        .withColumn("rn", row_number().over(wm).cast("long"))
        .withColumn("m", count(lit(1)).over(wg))
        .filter(col("rn") === expr("(m + 1) div 2"))
        .select(col("g"), col("resid").as("med"))
      val dev = base.join(broadcast(med), Seq("g"))
        .withColumn("adev", abs(col("resid") - col("med")))
      val wd = Window.partitionBy(col("g")).orderBy(col("adev"))
      val mad = dev
        .withColumn("rn", row_number().over(wd).cast("long"))
        .withColumn("m", count(lit(1)).over(wg))
        .filter(col("rn") === expr("(m + 1) div 2"))
        .select(col("g"), col("adev").as("mad"))
      dev.join(broadcast(mad), Seq("g"))
        .withColumn("rscore",
          col("adev") / (lit(1.4826) * greatest(col("mad"), lit(1e-9))))
        .select(col("g").as("event_type"), col("h_us"), col("x"),
          col("resid"), col("rscore"), (col("rscore") > 3.0).as("is_anomaly"))
        .orderBy(col("event_type"), col("h_us"))
    },
      // same components; lower-median med/MAD by rank, one IEEE score tree
      s"""WITH $decomposeSql,
         |base AS (SELECT g, h_us, x, resid FROM dc),
         |rmed AS (
         |  SELECT g, resid AS med FROM (
         |    SELECT g, resid,
         |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY resid) AS rn,
         |      COUNT(*) OVER (PARTITION BY g) AS m
         |    FROM base) WHERE rn = (m + 1) // 2),
         |dev AS (
         |  SELECT b.g, b.h_us, b.x, b.resid, abs(b.resid - r.med) AS adev
         |  FROM base b JOIN rmed r USING (g)),
         |mmad AS (
         |  SELECT g, adev AS mad FROM (
         |    SELECT g, adev,
         |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY adev) AS rn,
         |      COUNT(*) OVER (PARTITION BY g) AS m
         |    FROM dev) WHERE rn = (m + 1) // 2)
         |SELECT d.g AS event_type, d.h_us, d.x, d.resid,
         |  d.adev / (1.4826 * greatest(mm.mad, 1e-9)) AS rscore,
         |  (d.adev / (1.4826 * greatest(mm.mad, 1e-9))) > 3.0 AS is_anomaly
         |FROM dev d JOIN mmad mm USING (g)
         |ORDER BY event_type, h_us""".stripMargin),

    // DAILY QUANTILE BANDS (p10/p50/p90) — the Grafana percentile-band
    // panel (and the latency-SLO shape: "p90 by day"): per (series, day)
    // the rank-selected lower quantiles. Rank selection, not
    // interpolation: the band value is a REAL OBSERVED point picked at
    // rank ⌈q·n⌉ — computed in exact integer arithmetic ((n+9) div 10,
    // (n+1) div 2, (9n+9) div 10), so no engine's interpolation formula
    // (Spark lerp vs DuckDB quantile_cont) can disagree, and ties can't
    // reorder the pick (total order by (value, event_id)). One window
    // rank + one hash aggregate on the SAME (series, day) partitioning —
    // a single shuffle; the conditional max-when selection is partial-
    // aggregatable map-side.
    QuerySpec("ts39_quantile_bands", (s, dir) => {
      val base = ev(s, dir).select(col("event_type").as("g"),
        to_date(col("ts")).as("day"), col("value"), col("event_id"))
      val w = Window.partitionBy(col("g"), col("day"))
        .orderBy(col("value"), col("event_id"))
      base
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("g"), col("day"))))
        .groupBy(col("g").as("event_type"), col("day"))
        .agg(max(col("n")).as("n_points"),
          max(when(col("rn") === expr("(n + 9) div 10"), col("value")))
            .as("p10"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("value")))
            .as("p50"),
          max(when(col("rn") === expr("(9 * n + 9) div 10"), col("value")))
            .as("p90"))
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_points"), col("p10"), col("p50"), col("p90"))
        .orderBy(col("event_type"), col("day"))
    },
      // rank-selected lower quantiles, integer index arithmetic
      """WITH r AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY value, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type, CAST(ts AS DATE)) AS n
        |  FROM events)
        |SELECT g AS event_type, strftime(day, '%Y-%m-%d') AS day,
        |  MAX(n) AS n_points,
        |  MAX(CASE WHEN rn = (n + 9) // 10 THEN value END) AS p10,
        |  MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50,
        |  MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN value END) AS p90
        |FROM r GROUP BY g, day
        |ORDER BY event_type, day""".stripMargin),

    // SAX MOTIF DISCOVERY (Lin et al.'s Symbolic Aggregate approXimation,
    // the classic TS pattern-mining front end): PAA = hourly mean →
    // 4-symbol alphabet on FIXED power-of-two breakpoints (width 16, the
    // ts42/gs22 binning discipline — floor(v/16) is exponent-only IEEE
    // arithmetic, exact on any engine) → 3-symbol sliding words over
    // CONSECUTIVE hours → top-3 most frequent words per series = the
    // series' motifs. Quantile breakpoints (textbook SAX) would reintro-
    // duce cross-engine interpolation drift; fixed breakpoints keep every
    // step integer-exact. Hourly means are halfUpMean6 (exact micro-unit
    // int64 → one deterministic int64→double conversion). Scale shape:
    // events compress to one row per (type, hour) FIRST; the word window
    // partitions by event_type over that tiny frame, and the motif rank
    // is a second window over ≤ 64 words per type. Gap hours break words
    // (lead-hr continuity check) instead of silently bridging silence.
    QuerySpec("ts49_sax_motifs", (s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hr"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("sx"))
        .withColumn("hm", halfUpMean6("sx", "n"))
        .withColumn("sym", expr(
          "substr('abcd', cast(greatest(least(floor(hm / 16.0), 3.0), 0.0) as int) + 1, 1)"))
        .select(col("event_type"), col("hr"), col("sym"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      val words = hourly
        .withColumn("s2", lead(col("sym"), 1).over(w))
        .withColumn("h2", lead(col("hr"), 1).over(w))
        .withColumn("s3", lead(col("sym"), 2).over(w))
        .withColumn("h3", lead(col("hr"), 2).over(w))
        .filter(col("h2") === col("hr") + 1 && col("h3") === col("hr") + 2)
        .select(col("event_type"),
          concat(col("sym"), col("s2"), col("s3")).as("word"))
      val counted = words.groupBy(col("event_type"), col("word"))
        .agg(count(lit(1)).as("n"))
      counted
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("n").desc, col("word"))).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("event_type"), col("word"), col("n"), col("rnk"))
        .orderBy(col("event_type"), col("rnk"))
    },
      // SAX: halfUpMean6 hourly means, fixed power-of-two breakpoints
      // (floor(v/16) is exact IEEE), lead-hr continuity gates gap hours;
      // COUNT is BIGINT on both engines (no sum to pin)
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |      AS s_us
        |  FROM events GROUP BY 1, 2),
        |sym AS (
        |  SELECT event_type, hr,
        |    substr('abcd', CAST(GREATEST(LEAST(FLOOR(
        |      (CAST((2 * s_us + n) // (2 * n) AS DOUBLE) / 1000000.0)
        |        / 16.0), 3.0), 0.0) AS INT) + 1, 1) AS s
        |  FROM hourly),
        |wd AS (
        |  SELECT event_type, hr, s,
        |    LEAD(s, 1) OVER w AS s2, LEAD(hr, 1) OVER w AS h2,
        |    LEAD(s, 2) OVER w AS s3, LEAD(hr, 2) OVER w AS h3
        |  FROM sym WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
        |c AS (
        |  SELECT event_type, s || s2 || s3 AS word, COUNT(*) AS n
        |  FROM wd WHERE h2 = hr + 1 AND h3 = hr + 2
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, word, n,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, word) AS BIGINT) AS rnk
        |  FROM c)
        |SELECT event_type, word, n, rnk FROM r WHERE rnk <= 3
        |ORDER BY event_type, rnk""".stripMargin),

    // INTERVAL UNION / DAILY COVERAGE (the sweep-line op plain SQL is
    // famously bad at): from ts47's per-user sessions, how many µs of
    // each day have ≥ 1 session active, how many sessions touch the
    // day, and the peak concurrency — the utilization/on-call-coverage
    // shape. Algorithm: clip sessions to day boundaries (sessions are
    // ≤ a few hours, so the explode is 1-2 rows each), then per day a
    // ±1 delta sweep: running sum = concurrency, segment to the next
    // boundary counts when concurrency > 0. Integer-µs arithmetic
    // throughout; the one division (coverage ratio) is a single IEEE op
    // on identical operands. Determinism: the sweep order (us, delta,
    // user_id) is TOTAL (a user's sessions are >30 min apart), and the
    // covered-time integral is tie-order-independent anyway (equal-us
    // rows produce zero-length segments). Scale shape: sessionization
    // shuffles on user_id; the sweep partitions by day — days are
    // independent by construction after clipping, so this parallelizes
    // over the calendar; within one day the window is bounded by that
    // day's session count (sub-day clipping with boundary stitching is
    // the refinement if a single day's sessions outgrow a partition).
    QuerySpec("ts50_interval_coverage", (s, dir) => {
      val dayUs = 86400000000L
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val sess = ev(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull
            || col("us") - col("prev") > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      val seg = sess
        .withColumn("day",
          explode(expr(s"sequence(start_us div $dayUs, end_us div $dayUs)")))
        .select(col("user_id"), col("day"),
          greatest(col("start_us"), col("day") * dayUs).as("s"),
          least(col("end_us"), (col("day") + 1) * dayUs).as("e"))
      // ±1 deltas via a 2-element inline array, NOT a unionAll of two
      // projections of `seg`: the union's branches differ (s vs e), so
      // ReuseExchange can't kick in and the whole sessionize subtree —
      // including the events scan — would run twice (plan-audited).
      val sweep = seg
        .select(col("day"), col("user_id"), explode(array(
          struct(col("s").as("us"), lit(1L).as("delta")),
          struct(col("e").as("us"), lit(-1L).as("delta")))).as("x"))
        .select(col("day"), col("x.us").as("us"),
          col("x.delta").as("delta"), col("user_id"))
      // starts before ends at the same instant (delta DESC): sessions are
      // CLOSED intervals, so a single-event session still registers peak
      // concurrency 1 and touching sessions merge. The order is total
      // (a user's sessions sit > 30 min apart), and covered time is
      // tie-order-independent regardless (zero-length segments).
      val ws = Window.partitionBy(col("day"))
        .orderBy(col("us"), col("delta").desc, col("user_id"))
      sweep
        .withColumn("cum", sum(col("delta")).over(
          ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("nxt", lead(col("us"), 1).over(ws))
        .groupBy(col("day"))
        .agg(sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_sessions"),
          sum(when(col("cum") > 0, coalesce(col("nxt"), col("us")) - col("us"))
            .otherwise(0L)).as("covered_us"),
          max(col("cum")).as("max_conc"))
        .withColumn("coverage",
          col("covered_us").cast("double") / lit(dayUs.toDouble))
        .select(col("day"), col("n_sessions"), col("covered_us"),
          col("max_conc"), col("coverage"))
        .orderBy(col("day"))
    },
      // sweep-line replay: ts47's session CTE, day-clipped segments via a
      // correlated generate_series, ±1 deltas, running-sum concurrency.
      // Window SUMs (sid, cum) and the CASE sums are HUGEINT in DuckDB —
      // every surviving projection pins BIGINT per the typed-sum rule;
      // positive integer // is floor on both engines.
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |f AS (
        |  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
        |      OR us - LAG(us) OVER w > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f),
        |sess AS (
        |  SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us
        |  FROM g GROUP BY user_id, sid),
        |segd AS (
        |  SELECT user_id, start_us, end_us,
        |    unnest(range(start_us // 86400000000,
        |                 end_us // 86400000000 + 1)) AS day
        |  FROM sess),
        |seg AS (
        |  SELECT user_id, day,
        |    GREATEST(start_us, day * 86400000000) AS s,
        |    LEAST(end_us, (day + 1) * 86400000000) AS e
        |  FROM segd),
        |sweep AS (
        |  SELECT day, s AS us, 1 AS delta, user_id FROM seg
        |  UNION ALL
        |  SELECT day, e, -1, user_id FROM seg),
        |w2 AS (
        |  SELECT day, us, delta,
        |    SUM(delta) OVER (PARTITION BY day
        |      ORDER BY us, delta DESC, user_id
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    LEAD(us) OVER (PARTITION BY day
        |      ORDER BY us, delta DESC, user_id) AS nxt
        |  FROM sweep)
        |SELECT day,
        |  CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sessions,
        |  CAST(SUM(CASE WHEN cum > 0 THEN COALESCE(nxt, us) - us
        |    ELSE 0 END) AS BIGINT) AS covered_us,
        |  CAST(MAX(cum) AS BIGINT) AS max_conc,
        |  CAST(SUM(CASE WHEN cum > 0 THEN COALESCE(nxt, us) - us
        |    ELSE 0 END) AS DOUBLE) / 86400000000.0 AS coverage
        |FROM w2 GROUP BY day ORDER BY day""".stripMargin),

    // Offline changepoint detection by BINARY SEGMENTATION (depth 2) — the
    // classic recursive complement to ts26's ONLINE sequential CUSUM: find
    // the hour that maximizes the centered-cumulative-sum statistic
    // |n·S_t − t·S_n| over the whole series, then recurse once into each
    // half. All arithmetic is EXACT 64-bit integer in centi-units
    // (value has 2 fractional digits; per-type hourly sums ≤ ~1e9 centi,
    // n ≤ ~720 hours, so |D| ≤ ~7e11 ≪ 2⁶³ with 100× headroom): no float
    // sum ordering, no rounding, hash-identical on any engine. Scale: the
    // statistic rides the HOURLY-compressed frame (|types|×|hours| rows),
    // so the raw scan is one hash aggregate and every window below it is
    // per-series over ≤ |hours| rows; the frame feeds both recursion
    // levels, so it is checkpointed once (the ts42 multi-consumer rule).
    QuerySpec("ts51_changepoint_binseg", (s, dir) => {
      val hourly = ev(s, dir)
        .withColumn("bucket", date_trunc("hour", col("ts")))
        .withColumn("xd", col("value").cast("decimal(18,6)"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(expr("cast(sum(xd) * 100 as bigint)").as("sc"))
        .localCheckpoint(true)
      val w1 = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      val pts = hourly
        .withColumn("i", row_number().over(w1).cast("long"))
        .withColumn("cs", sum(col("sc")).over(
          w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("sc")).as("sn"))
      val l1 = pts.join(broadcast(tot), Seq("event_type"))
        .filter(col("i") < col("n"))
        .withColumn("stat", abs(col("n") * col("cs") - col("i") * col("sn")))
        .withColumn("rk", row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("stat").desc, col("i"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("i").as("i1"), col("bucket").as("b1"),
          col("stat").as("stat1"), col("n").as("n1"))
      val lvl1 = l1.select(col("event_type"), lit(1).as("level"),
        lit(0).as("seg"),
        date_format(col("b1"), "yyyy-MM-dd HH:mm:ss").as("split_bucket"),
        col("stat1").as("stat"), col("n1").as("seg_len"))
      // level 2: re-run the same argmax inside each half, on the same
      // checkpointed hourly frame (windows re-keyed by (type, seg))
      val w2 = Window.partitionBy(col("event_type"), col("seg"))
        .orderBy(col("bucket"))
      val seg = pts.join(broadcast(l1.select(col("event_type"), col("i1"))),
          Seq("event_type"))
        .withColumn("seg", when(col("i") <= col("i1"), 0).otherwise(1))
      val pts2 = seg
        .withColumn("j", row_number().over(w2).cast("long"))
        .withColumn("cs2", sum(col("sc")).over(
          w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot2 = seg.groupBy(col("event_type"), col("seg"))
        .agg(count(lit(1)).as("m"), sum(col("sc")).as("sm"))
      val lvl2 = pts2
        .join(broadcast(tot2), Seq("event_type", "seg"))
        .filter(col("m") >= 4 && col("j") < col("m"))
        .withColumn("stat", abs(col("m") * col("cs2") - col("j") * col("sm")))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"), col("seg"))
            .orderBy(col("stat").desc, col("j"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), lit(2).as("level"), col("seg"),
          date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("split_bucket"),
          col("stat"), col("m").as("seg_len"))
      lvl1.unionByName(lvl2)
        .orderBy(col("event_type"), col("level"), col("seg"))
    },
      // All-integer (centi-unit) binary segmentation; HUGEINT appears only in
      // intermediate window sums, every FINAL projection pins BIGINT/INT.
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) * 100 AS BIGINT) AS sc
        |  FROM events GROUP BY 1, 2),
        |pts AS (
        |  SELECT event_type, bucket, sc,
        |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS i,
        |    CAST(SUM(sc) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
        |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
        |tot AS (
        |  SELECT event_type, COUNT(*) AS n, CAST(SUM(sc) AS BIGINT) AS sn
        |  FROM hourly GROUP BY 1),
        |l1r AS (
        |  SELECT p.event_type, p.i, p.bucket,
        |    ABS(t.n * p.cs - p.i * t.sn) AS stat, t.n,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_type
        |      ORDER BY ABS(t.n * p.cs - p.i * t.sn) DESC, p.i) AS rk
        |  FROM pts p JOIN tot t USING (event_type)
        |  WHERE p.i < t.n),
        |l1 AS (SELECT * FROM l1r WHERE rk = 1),
        |lvl1 AS (
        |  SELECT event_type, 1 AS level, 0 AS seg,
        |    strftime(bucket, '%Y-%m-%d %H:%M:%S') AS split_bucket,
        |    CAST(stat AS BIGINT) AS stat, CAST(n AS BIGINT) AS seg_len
        |  FROM l1),
        |segd AS (
        |  SELECT p.event_type, p.bucket, p.sc,
        |    CASE WHEN p.i <= l.i THEN 0 ELSE 1 END AS seg
        |  FROM pts p JOIN l1 l USING (event_type)),
        |pts2 AS (
        |  SELECT event_type, seg, bucket, sc,
        |    CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS j,
        |    CAST(SUM(sc) OVER (PARTITION BY event_type, seg ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs2
        |  FROM segd
        |  WINDOW w2 AS (PARTITION BY event_type, seg ORDER BY bucket)),
        |tot2 AS (
        |  SELECT event_type, seg, COUNT(*) AS m, CAST(SUM(sc) AS BIGINT) AS sm
        |  FROM segd GROUP BY 1, 2),
        |l2r AS (
        |  SELECT p.event_type, p.seg, p.bucket,
        |    ABS(t.m * p.cs2 - p.j * t.sm) AS stat, t.m,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_type, p.seg
        |      ORDER BY ABS(t.m * p.cs2 - p.j * t.sm) DESC, p.j) AS rk
        |  FROM pts2 p JOIN tot2 t USING (event_type, seg)
        |  WHERE t.m >= 4 AND p.j < t.m),
        |lvl2 AS (
        |  SELECT event_type, 2 AS level, seg,
        |    strftime(bucket, '%Y-%m-%d %H:%M:%S') AS split_bucket,
        |    CAST(stat AS BIGINT) AS stat, CAST(m AS BIGINT) AS seg_len
        |  FROM l2r WHERE rk = 1)
        |SELECT * FROM lvl1 UNION ALL SELECT * FROM lvl2
        |ORDER BY event_type, level, seg""".stripMargin),

    // ROLLING WINDOW CORRELATION between two series (click × view hourly
    // means, trailing 24 h) — the co-movement monitor ts14's whole-series
    // Pearson can't provide: r is emitted PER HOUR, so a correlation
    // breakdown is localized in time. Numerics are the acf10 kit: 6-dp
    // halfUpMean6 hourly means, 12-dp-rounded decimal products summed
    // exactly inside the frame, and one fixed IEEE tree for r — both
    // engines see identical operands. The single unpartitioned window
    // runs over the hourly-COMPRESSED two-column frame (≤ |hours| rows —
    // the documented compressed-frame exception; per-(pair) partitioning
    // is the 100 TB sharding axis when many pairs are tracked).
    QuerySpec("ts53_rolling_corr", (s, dir) => {
      val hourly = ev(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .withColumn("bucket", date_trunc("hour", col("ts")))
        .withColumn("xd", col("value").cast("decimal(18,6)"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(col("xd")).as("sx"), count(lit(1)).as("n"))
        .withColumn("hm", halfUpMean6("sx", "n"))
      val x = hourly.filter(col("event_type") === "click")
        .select(col("bucket"), col("hm").as("x"))
      val y = hourly.filter(col("event_type") === "view")
        .select(col("bucket"), col("hm").as("y"))
      val xy = x.join(y, Seq("bucket"))
        .withColumn("xd", col("x").cast("decimal(18,6)"))
        .withColumn("yd", col("y").cast("decimal(18,6)"))
        .withColumn("pxy", expr("cast(round(x * y, 12) as decimal(28,12))"))
        .withColumn("pxx", expr("cast(round(x * x, 12) as decimal(28,12))"))
        .withColumn("pyy", expr("cast(round(y * y, 12) as decimal(28,12))"))
      val wo = Window.orderBy(col("bucket"))
      val w = wo.rowsBetween(-23, 0)
      xy.withColumn("rn", row_number().over(wo))
        .withColumn("sx", sum(col("xd")).over(w))
        .withColumn("sy", sum(col("yd")).over(w))
        .withColumn("sxy", sum(col("pxy")).over(w))
        .withColumn("sxx", sum(col("pxx")).over(w))
        .withColumn("syy", sum(col("pyy")).over(w))
        .filter(col("rn") >= 24)
        .withColumn("num", lit(24) * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
        .withColumn("den", sqrt(
          (lit(24) * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
          * (lit(24) * col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double"))))
        .withColumn("r",
          when(col("den") > 0, round(col("num") / col("den"), 6)))
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("r"))
        .orderBy(col("bucket"))
    },
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sx, COUNT(*) AS n
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1, 2),
        |hm AS (
        |  SELECT event_type, bucket,
        |    CAST((2 * CAST(sx * 1000000 AS BIGINT) + n) // (2 * n)
        |      AS DOUBLE) / 1e6 AS hm
        |  FROM hourly),
        |xy AS (
        |  SELECT a.bucket, a.hm AS x, b.hm AS y
        |  FROM hm a JOIN hm b ON a.bucket = b.bucket
        |  WHERE a.event_type = 'click' AND b.event_type = 'view'),
        |p AS (
        |  SELECT bucket, CAST(x AS DECIMAL(18,6)) AS xd,
        |    CAST(y AS DECIMAL(18,6)) AS yd,
        |    CAST(ROUND(x * y, 12) AS DECIMAL(28,12)) AS pxy,
        |    CAST(ROUND(x * x, 12) AS DECIMAL(28,12)) AS pxx,
        |    CAST(ROUND(y * y, 12) AS DECIMAL(28,12)) AS pyy
        |  FROM xy),
        |wnd AS (
        |  SELECT bucket,
        |    ROW_NUMBER() OVER wo AS rn,
        |    SUM(xd) OVER w AS sx, SUM(yd) OVER w AS sy,
        |    SUM(pxy) OVER w AS sxy, SUM(pxx) OVER w AS sxx,
        |    SUM(pyy) OVER w AS syy
        |  FROM p
        |  WINDOW wo AS (ORDER BY bucket),
        |    w AS (ORDER BY bucket ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |rr AS (
        |  SELECT bucket,
        |    24 * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    sqrt((24 * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (24 * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS den
        |  FROM wnd WHERE rn >= 24)
        |SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
        |  CASE WHEN den > 0 THEN ROUND(num / den, 6) END AS r
        |FROM rr ORDER BY bucket""".stripMargin),

    // Maximum drawdown per series — the classic peak-to-trough metric, on
    // the hourly CLOSE (last value in each hour, deterministic by
    // (ts, event_id) DESC row_number). Numerics: running max and the final
    // max are pure double COMPARISONS and the drawdown is ONE IEEE
    // subtraction of two parquet-read doubles — no float accumulation at
    // all, so every engine computes bit-identical results. Scale: the
    // window runs on the hourly-compressed frame (≤ |hours| rows per
    // series); the raw scan is a single filter + row_number per (type,
    // hour) partition, which at 100 TB rides the store's date partitioning.
    QuerySpec("ts52_max_drawdown", (s, dir) => {
      val wLast = Window.partitionBy(col("event_type"), col("bucket"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val close = ev(s, dir)
        .withColumn("bucket", date_trunc("hour", col("ts")))
        .withColumn("rn", row_number().over(wLast))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("bucket"), col("value").as("close"))
      val wRun = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = close
        .withColumn("runmax", max(col("close")).over(wRun))
        .withColumn("dd", col("runmax") - col("close"))
      dd.withColumn("rk", row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("dd").desc, col("bucket"))))
        .withColumn("n_underwater", count(when(col("dd") > 0, 1)).over(
          Window.partitionBy(col("event_type"))))
        .filter(col("rk") === 1)
        .select(col("event_type"),
          date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("trough_bucket"),
          col("runmax").as("peak_value"), col("close").as("trough_value"),
          col("dd").as("max_dd"), col("n_underwater"))
        .orderBy(col("event_type"))
    },
      """WITH cl AS (
        |  SELECT event_type, bucket, cl FROM (
        |    SELECT event_type, date_trunc('hour', ts) AS bucket,
        |      value AS cl,
        |      ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |dd AS (
        |  SELECT event_type, bucket, cl,
        |    MAX(cl) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS runmax
        |  FROM cl),
        |d2 AS (
        |  SELECT event_type, bucket, cl, runmax, runmax - cl AS ddv FROM dd),
        |r AS (
        |  SELECT event_type, bucket, cl, runmax, ddv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ddv DESC, bucket) AS rk,
        |    SUM(CASE WHEN ddv > 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY event_type) AS nu
        |  FROM d2)
        |SELECT event_type,
        |  strftime(bucket, '%Y-%m-%d %H:%M:%S') AS trough_bucket,
        |  runmax AS peak_value, cl AS trough_value, ddv AS max_dd,
        |  CAST(nu AS BIGINT) AS n_underwater
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin),

    // HURST R/S LADDER (Hurst 1951; Mandelbrot–Wallis rescaled range):
    // long-range-dependence diagnostic ts27's ACF can't give — mean R/S
    // per dyadic block size n ∈ {16,32,64} over the hourly-mean series;
    // R/S growing like n^H with H > 0.5 means persistent memory (the
    // growth_vs_half column ≈ 2^H between consecutive rungs). Numerics
    // are fully engine-independent BY CONSTRUCTION: block sizes are
    // dyadic, so the block mean never needs a division — everything is
    // scaled by n (y_i = n·x_i − Σx, exact decimals), cumulative
    // deviations and Σy² stay decimal (order-independent), and the only
    // IEEE ops are exact dyadic divisions (/n, /n³), one correctly-
    // rounded sqrt, and one rounded quotient per block. Scale: runs on
    // the hourly-COMPRESSED frame (≤ |hours| rows/series — documented
    // exception), every window partitioned by (series, n, block); at
    // 100 TB with many series the same plan shards on the series key.
    QuerySpec("ts54_hurst_rs", (s, dir) => {
      val hourly = ev(s, dir)
        .withColumn("bucket", date_trunc("hour", col("ts")))
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(sumExactCol(col("value"))).as("sx"), count(lit(1)).as("n"))
        .withColumn("x", halfUpMean6("sx", "n"))
        .withColumn("i", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("bucket")))
          .cast("long"))
        .select(col("event_type"), col("i"), col("x"))
      val f = hourly
        .withColumn("bn", explode(array(lit(16L), lit(32L), lit(64L))))
        .withColumn("xd", col("x").cast("decimal(14,6)"))
        .withColumn("blk", expr("(i - 1) div bn"))
      val wb = Window.partitionBy(col("event_type"), col("bn"), col("blk"))
      val wc = wb.orderBy(col("i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val blocks = f
        .withColumn("sum_x", sum(col("xd")).over(wb))
        .withColumn("m", count(lit(1)).over(wb))
        .filter(col("m") === col("bn"))
        .withColumn("y", (col("bn").cast("decimal(10,0)") * col("xd")
          - col("sum_x")).cast("decimal(14,6)"))
        .withColumn("cz", sum(col("y")).over(wc))
        .withColumn("y2", (col("y") * col("y")).cast("decimal(30,12)"))
        .groupBy(col("event_type"), col("bn"), col("blk"))
        .agg(max(col("cz")).as("maxc"), min(col("cz")).as("minc"),
          sum(col("y2")).as("ss"))
        .withColumn("rv", (col("maxc") - col("minc")).cast("double")
          / col("bn").cast("double"))
        .withColumn("sv", sqrt(col("ss").cast("double")
          / (col("bn") * col("bn") * col("bn")).cast("double")))
        .filter(col("sv") > 0)
        .withColumn("rs", round(col("rv") / col("sv"), 6))
      blocks
        .withColumn("rsd", col("rs").cast("decimal(18,6)"))
        .groupBy(col("event_type"), col("bn").as("block_n"))
        .agg(count(lit(1)).as("n_blocks"), sum(col("rsd")).as("srs"),
          max(col("rs")).as("max_rs"))
        .withColumn("mean_rs", halfUpMean6("srs", "n_blocks"))
        .withColumn("growth_vs_half", round(col("mean_rs")
          / lag(col("mean_rs"), 1).over(
            Window.partitionBy(col("event_type")).orderBy(col("block_n"))),
          6))
        .select(col("event_type"), col("block_n"), col("n_blocks"),
          col("mean_rs"), col("max_rs"), col("growth_vs_half"))
        .orderBy(col("event_type"), col("block_n"))
    },
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sx, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |hm AS (
        |  SELECT event_type,
        |    CAST((2 * CAST(sx * 1000000 AS BIGINT) + n) // (2 * n)
        |      AS DOUBLE) / 1e6 AS x,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket) AS i
        |  FROM hourly),
        |f AS (
        |  SELECT event_type, CAST(i AS BIGINT) AS i,
        |    CAST(x AS DECIMAL(14,6)) AS xd, bn,
        |    (CAST(i AS BIGINT) - 1) // bn AS blk
        |  FROM hm CROSS JOIN (VALUES (CAST(16 AS BIGINT)), (32), (64))
        |    AS s(bn)),
        |b0 AS (
        |  SELECT *,
        |    SUM(xd) OVER (PARTITION BY event_type, bn, blk) AS sum_x,
        |    COUNT(*) OVER (PARTITION BY event_type, bn, blk) AS m
        |  FROM f),
        |b1 AS (
        |  SELECT event_type, bn, blk, i,
        |    CAST(CAST(bn AS DECIMAL(10,0)) * xd - sum_x AS DECIMAL(14,6))
        |      AS y
        |  FROM b0 WHERE m = bn),
        |b2 AS (
        |  SELECT event_type, bn, blk, y,
        |    SUM(y) OVER (PARTITION BY event_type, bn, blk ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS cz
        |  FROM b1),
        |g AS (
        |  SELECT event_type, bn, blk, MAX(cz) AS maxc, MIN(cz) AS minc,
        |    SUM(CAST(CAST(y AS DECIMAL(20,6)) * y AS DECIMAL(30,12)))
        |      AS ss
        |  FROM b2 GROUP BY 1, 2, 3),
        |rsb AS (
        |  SELECT event_type, bn,
        |    ROUND((CAST(maxc - minc AS DOUBLE) / CAST(bn AS DOUBLE))
        |      / sqrt(CAST(ss AS DOUBLE) / CAST(bn * bn * bn AS DOUBLE)), 6)
        |      AS rs
        |  FROM g
        |  WHERE sqrt(CAST(ss AS DOUBLE) / CAST(bn * bn * bn AS DOUBLE)) > 0),
        |agg AS (
        |  SELECT event_type, bn AS block_n, COUNT(*) AS n_blocks,
        |    SUM(CAST(rs AS DECIMAL(18,6))) AS srs, MAX(rs) AS max_rs
        |  FROM rsb GROUP BY 1, 2),
        |m2 AS (
        |  SELECT event_type, block_n, n_blocks,
        |    CAST((2 * CAST(srs * 1000000 AS BIGINT) + n_blocks)
        |      // (2 * n_blocks) AS DOUBLE) / 1e6 AS mean_rs, max_rs
        |  FROM agg)
        |SELECT event_type, block_n, n_blocks, mean_rs, max_rs,
        |  ROUND(mean_rs / LAG(mean_rs, 1) OVER (PARTITION BY event_type
        |    ORDER BY block_n), 6) AS growth_vs_half
        |FROM m2 ORDER BY event_type, block_n""".stripMargin),

    // VARIANCE-RATIO TEST (Lo–MacKinlay 1988, uncorrected population
    // form): VR(k) = Var(x_t − x_{t−k}) / (k · Var(x_t − x_{t−1})) over
    // the hourly-mean series — 1 for a random walk, < 1 mean-reverting,
    // > 1 trending; the mean-reversion complement to ts54's R/S memory
    // ladder. Numerics: returns are exact decimal differences of 6-dp
    // hourly means, each variance is the all-integer form n·Σr² − (Σr)²
    // in exact decimals, and VR is ONE fixed IEEE tree over those exact
    // operands (int64 products of counts, two decimal→double casts, one
    // multiply, one divide — identical on both engines). Overlapping
    // k-returns, no bias correction (documented). Scale: two hash
    // aggregates over the hourly-compressed frame joined on the series
    // key; windows partitioned per series throughout.
    QuerySpec("ts55_variance_ratio", (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("i"))
      val hourly = ev(s, dir)
        .withColumn("bucket", date_trunc("hour", col("ts")))
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(sumExactCol(col("value"))).as("sx"), count(lit(1)).as("n"))
        .withColumn("x", halfUpMean6("sx", "n"))
        .withColumn("i", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("bucket")))
          .cast("long"))
        .withColumn("xd", col("x").cast("decimal(14,6)"))
        .select(col("event_type"), col("i"), col("xd"))
        // three consumers (1-returns, k-return probe side, k-return build
        // side) — materialize the ≤|hours|×|series| frame once instead of
        // re-running the events scan per branch (ts42's barrier rule)
        .localCheckpoint(true)
      val base = hourly
        .withColumn("r1", (col("xd") - lag(col("xd"), 1).over(w))
          .cast("decimal(14,6)"))
        .filter(col("r1").isNotNull)
        .withColumn("q1", (col("r1") * col("r1")).cast("decimal(30,12)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n1"),
          sum(col("r1")).cast("decimal(14,6)").as("s1"),
          sum(col("q1")).as("qq1"))
        // count × decimal product stays DOUBLE × DOUBLE on BOTH engines:
        // a bigint×decimal(38,12) multiply would exceed precision 38 and
        // Spark silently reduces scale where DuckDB widens — the casts
        // are exact (count < 2⁵³) resp. correctly rounded, so the IEEE
        // product is identical on both
        .withColumn("v1", expr("cast(n1 as double) * cast(qq1 as double)")
          - expr("cast(s1 * s1 as double)"))
      // lag by the VARIABLE k: re-join the series to itself on (i − k) —
      // lag(col, k) needs a literal offset; the self-join is the exact
      // same one-exchange shape (both sides partition on event_type)
      val shifted = hourly.select(col("event_type").as("et2"),
        col("i").as("j"), col("xd").as("xk"))
      val lhs = hourly
        .withColumn("k", explode(array(lit(2L), lit(4L), lit(8L))))
      val rk = lhs
        .join(shifted.hint("shuffle_hash"),
          lhs("event_type") === shifted("et2")
            && lhs("i") - lhs("k") === shifted("j"))
        .drop("et2", "j")
        .withColumn("rkv", (col("xd") - col("xk")).cast("decimal(14,6)"))
        .withColumn("qk", (col("rkv") * col("rkv")).cast("decimal(30,12)"))
        .groupBy(col("event_type"), col("k"))
        .agg(count(lit(1)).as("nk"),
          sum(col("rkv")).cast("decimal(14,6)").as("sk"),
          sum(col("qk")).as("qqk"))
        .withColumn("vk", expr("cast(nk as double) * cast(qqk as double)")
          - expr("cast(sk * sk as double)"))
      rk.join(broadcast(base.select(col("event_type"), col("n1"), col("v1"))),
          Seq("event_type"))
        .filter(col("v1") > 0)
        .withColumn("vr", expr(
          "round((vk * cast(n1 * n1 as double)) /" +
            " (cast(k * nk * nk as double) * v1), 6)"))
        .select(col("event_type"), col("k"), col("nk"), col("vr"))
        .orderBy(col("event_type"), col("k"))
    },
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sx, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |hm AS (
        |  SELECT event_type,
        |    CAST(CAST((2 * CAST(sx * 1000000 AS BIGINT) + n) // (2 * n)
        |      AS DOUBLE) / 1e6 AS DECIMAL(14,6)) AS xd,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket)
        |      AS BIGINT) AS i
        |  FROM hourly),
        |base AS (
        |  SELECT event_type, COUNT(*) AS n1,
        |    CAST(SUM(r1) AS DECIMAL(14,6)) AS s1,
        |    SUM(CAST(CAST(r1 AS DECIMAL(20,6)) * r1 AS DECIMAL(30,12)))
        |      AS qq1
        |  FROM (
        |    SELECT event_type,
        |      CAST(xd - LAG(xd, 1) OVER (PARTITION BY event_type ORDER BY i)
        |        AS DECIMAL(14,6)) AS r1
        |    FROM hm)
        |  WHERE r1 IS NOT NULL GROUP BY event_type),
        |bv AS (
        |  SELECT event_type, n1,
        |    CAST(n1 AS DOUBLE) * CAST(qq1 AS DOUBLE)
        |      - CAST(CAST(s1 AS DECIMAL(20,6)) * s1 AS DOUBLE) AS v1
        |  FROM base),
        |rk AS (
        |  SELECT a.event_type, s.k,
        |    CAST(a.xd - b.xd AS DECIMAL(14,6)) AS rkv
        |  FROM hm a
        |  CROSS JOIN (VALUES (CAST(2 AS BIGINT)), (4), (8)) AS s(k)
        |  JOIN hm b ON b.event_type = a.event_type AND b.i = a.i - s.k),
        |ka AS (
        |  SELECT event_type, k, COUNT(*) AS nk,
        |    CAST(SUM(rkv) AS DECIMAL(14,6)) AS sk,
        |    SUM(CAST(CAST(rkv AS DECIMAL(20,6)) * rkv AS DECIMAL(30,12)))
        |      AS qqk
        |  FROM rk GROUP BY 1, 2),
        |kv AS (
        |  SELECT event_type, k, nk,
        |    CAST(nk AS DOUBLE) * CAST(qqk AS DOUBLE)
        |      - CAST(CAST(sk AS DECIMAL(20,6)) * sk AS DOUBLE) AS vk
        |  FROM ka)
        |SELECT kv.event_type, kv.k, kv.nk,
        |  ROUND((vk * CAST(n1 * n1 AS DOUBLE)) /
        |    (CAST(k * nk * nk AS DOUBLE) * v1), 6) AS vr
        |FROM kv JOIN bv ON bv.event_type = kv.event_type
        |WHERE v1 > 0
        |ORDER BY kv.event_type, kv.k""".stripMargin),

    // PAIR COINTEGRATION (Engle–Granger two-step, DF form without lag
    // terms): hedge ratio β = Cov(x,y)/Var(x) over the click/view hourly
    // means, then the spread e = y − βx tested for mean reversion by
    // regressing Δe on e₍ₜ₋₁₎ — γ < 0 says the pair's spread reverts
    // (ρ = 1+γ is its AR(1) speed). ts14 asks "do they co-move?"; this
    // asks the TRADEABLE question "is a linear combination stationary?".
    // Numerics: hourly means are 6-dp exact; β's moment sums are exact
    // decimal products of 6-dp values (12-dp, associative); e is rounded
    // to 6 dp the moment it's born so the γ regression's sums are again
    // exact decimals; β/γ/ρ/sd are each ONE fixed IEEE tree over those
    // exact operands. Scale: everything after the hourly rollup runs on
    // the ≤|hours| two-column frame; with many pairs the same plan
    // shards on the pair key.
    QuerySpec("ts56_pair_cointegration", (s, dir) => {
      val hourly = ev(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .withColumn("bucket", date_trunc("hour", col("ts")))
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(sumExactCol(col("value"))).as("sx"), count(lit(1)).as("n"))
        .withColumn("hm", halfUpMean6("sx", "n"))
      val x = hourly.filter(col("event_type") === "click")
        .select(col("bucket"), col("hm").as("x"))
      val y = hourly.filter(col("event_type") === "view")
        .select(col("bucket"), col("hm").as("y"))
      val xy = x.join(y, Seq("bucket"))
        .withColumn("xd", col("x").cast("decimal(14,6)"))
        .withColumn("yd", col("y").cast("decimal(14,6)"))
        .withColumn("pxx", (col("xd") * col("xd")).cast("decimal(30,12)"))
        .withColumn("pxy", (col("xd") * col("yd")).cast("decimal(30,12)"))
        .localCheckpoint(true)
      val mom = xy.agg(
          count(lit(1)).as("n"),
          sum(col("xd")).cast("decimal(14,6)").as("sx"),
          sum(col("yd")).cast("decimal(14,6)").as("sy"),
          sum(col("pxx")).as("sxx"), sum(col("pxy")).as("sxy"))
        .withColumn("beta", expr(
          "(cast(n as double) * cast(sxy as double)" +
            " - cast(sx as double) * cast(sy as double)) /" +
            " (cast(n as double) * cast(sxx as double)" +
            " - cast(sx as double) * cast(sx as double))"))
        .select(col("n"), col("beta"))
      val e = xy.crossJoin(broadcast(mom))
        .withColumn("e6", round(col("y") - col("beta") * col("x"), 6)
          .cast("decimal(14,6)"))
        .withColumn("i", row_number().over(Window.orderBy(col("bucket")))
          .cast("long"))
      val w = Window.orderBy(col("i"))
      val d = e
        .withColumn("ep", lag(col("e6"), 1).over(w))
        .filter(col("ep").isNotNull)
        .withColumn("de", (col("e6") - col("ep")).cast("decimal(14,6)"))
        .withColumn("pee", (col("ep") * col("ep")).cast("decimal(30,12)"))
        .withColumn("ped", (col("ep") * col("de")).cast("decimal(30,12)"))
      d.groupBy(col("n"), col("beta"))
        .agg(count(lit(1)).as("n_diff"),
          sum(col("pee")).as("see"), sum(col("ped")).as("sed"),
          sum((col("e6") * col("e6")).cast("decimal(30,12)")).as("se2"))
        .withColumn("gamma",
          expr("cast(sed as double) / cast(see as double)"))
        .select(col("n"), col("n_diff"), round(col("beta"), 6).as("beta"),
          round(col("gamma"), 6).as("gamma"),
          round(lit(1.0) + col("gamma"), 6).as("rho"),
          round(sqrt(expr("cast(se2 as double)")
            / col("n_diff").cast("double")), 6).as("resid_sd"))
    },
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sx, COUNT(*) AS n
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1, 2),
        |hm AS (
        |  SELECT event_type, bucket,
        |    CAST((2 * CAST(sx * 1000000 AS BIGINT) + n) // (2 * n)
        |      AS DOUBLE) / 1e6 AS hm
        |  FROM hourly),
        |xy AS (
        |  SELECT a.bucket, a.hm AS x, b.hm AS y
        |  FROM hm a JOIN hm b ON a.bucket = b.bucket
        |  WHERE a.event_type = 'click' AND b.event_type = 'view'),
        |p2 AS (
        |  SELECT bucket, x, y,
        |    CAST(x AS DECIMAL(14,6)) AS xd, CAST(y AS DECIMAL(14,6)) AS yd,
        |    CAST(CAST(CAST(x AS DECIMAL(14,6)) AS DECIMAL(20,6))
        |      * CAST(x AS DECIMAL(14,6)) AS DECIMAL(30,12)) AS pxx,
        |    CAST(CAST(CAST(x AS DECIMAL(14,6)) AS DECIMAL(20,6))
        |      * CAST(y AS DECIMAL(14,6)) AS DECIMAL(30,12)) AS pxy
        |  FROM xy),
        |mom AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(xd) AS DECIMAL(14,6)) AS sx,
        |    CAST(SUM(yd) AS DECIMAL(14,6)) AS sy,
        |    SUM(pxx) AS sxx, SUM(pxy) AS sxy
        |  FROM p2),
        |b AS (
        |  SELECT n,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta
        |  FROM mom),
        |e AS (
        |  SELECT CAST(ROUND(y - beta * x, 6) AS DECIMAL(14,6)) AS e6,
        |    ROW_NUMBER() OVER (ORDER BY p2.bucket) AS i, n, beta
        |  FROM p2, b),
        |d AS (
        |  SELECT i, n, beta, e6, LAG(e6, 1) OVER (ORDER BY i) AS ep
        |  FROM e),
        |d2 AS (
        |  SELECT n, beta, e6, ep, CAST(e6 - ep AS DECIMAL(14,6)) AS de
        |  FROM d WHERE ep IS NOT NULL),
        |g AS (
        |  SELECT n, beta, COUNT(*) AS n_diff,
        |    SUM(CAST(CAST(ep AS DECIMAL(20,6)) * ep AS DECIMAL(30,12)))
        |      AS see,
        |    SUM(CAST(CAST(ep AS DECIMAL(20,6)) * de AS DECIMAL(30,12)))
        |      AS sed,
        |    SUM(CAST(CAST(e6 AS DECIMAL(20,6)) * e6 AS DECIMAL(30,12)))
        |      AS se2
        |  FROM d2 GROUP BY 1, 2)
        |SELECT CAST(n AS BIGINT) AS n, CAST(n_diff AS BIGINT) AS n_diff,
        |  ROUND(beta, 6) AS beta,
        |  ROUND(CAST(sed AS DOUBLE) / CAST(see AS DOUBLE), 6) AS gamma,
        |  ROUND(1.0 + CAST(sed AS DOUBLE) / CAST(see AS DOUBLE), 6) AS rho,
        |  ROUND(sqrt(CAST(se2 AS DOUBLE) / CAST(n_diff AS DOUBLE)), 6)
        |    AS resid_sd
        |FROM g""".stripMargin),

    // OUT-OF-ORDER ARRIVAL diagnostic — the ingest-quality metric that
    // sizes a stream's WATERMARK: in arrival order (event_id), how often
    // does event time step backwards, and by how much at worst? The
    // max-backstep answers "what delay bound loses no data"; inv_ppm
    // (adjacent inversions per million, integer floor-div — positive so
    // both engines agree) trends the disorder rate per type. One window
    // sort per type, then a plain aggregate — O(n log n) in each
    // partition, no pair blowup.
    QuerySpec("ts59_out_of_order", (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      ev(s, dir)
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("us") < col("prev_us"), 1L).otherwise(0L))
            .as("n_inversions"),
          max(when(col("us") < col("prev_us"),
            col("prev_us") - col("us"))).as("mb"))
        .withColumn("max_backstep_us", coalesce(col("mb"), lit(0L)))
        .withColumn("inv_ppm",
          expr("n_inversions * 1000000 div (n - 1)"))
        .select(col("event_type"), col("n"), col("n_inversions"),
          col("max_backstep_us"), col("inv_ppm"))
        .orderBy(col("event_type"))
    },
      // same lag-in-arrival-order replay; `//` vs `div` agree (positive)
      """WITH o AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |    LAG(epoch_us(ts), 1) OVER (PARTITION BY event_type
        |      ORDER BY event_id) AS prev_us
        |  FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN us < prev_us THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_inversions,
        |  CAST(COALESCE(MAX(CASE WHEN us < prev_us THEN prev_us - us END),
        |    0) AS BIGINT) AS max_backstep_us,
        |  CAST(SUM(CASE WHEN us < prev_us THEN 1 ELSE 0 END) * 1000000
        |    // (COUNT(*) - 1) AS BIGINT) AS inv_ppm
        |FROM o GROUP BY event_type ORDER BY event_type""".stripMargin),

    // GRANGER CAUSALITY (lag-1, both directions): does last hour's click
    // level improve the prediction of this hour's view level beyond
    // views' own history — and vice versa? Restricted model y~y₋₁ vs
    // unrestricted y~y₋₁+x₋₁, closed-form 2-predictor OLS from exact
    // decimal moments (ts56's discipline: 6-dp hourly means, 12-dp exact
    // products, decimal sums), then F = (RSS_r − RSS_u)·(n−3)/RSS_u and
    // the R² pair as ONE fixed IEEE tree per output — the n-scaled
    // centered moments cancel in every reported ratio, so no value
    // depends on the scaling. Lags are previous CALENDAR HOUR (an
    // interval self-join, not lag-over-rows: gaps make "previous row"
    // data-dependent; the hour grid is not). Plan: one events scan to
    // the hourly frame, one tiny self-join, both directions ride the
    // SAME joined frame via a 2-struct explode, one final aggregate.
    QuerySpec("ts58_granger_causality", (s, dir) => {
      val hourly = ev(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .withColumn("bucket", date_trunc("hour", col("ts")))
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(sumExactCol(col("value"))).as("sx"), count(lit(1)).as("n"))
        .withColumn("hm", halfUpMean6("sx", "n"))
      val c = hourly.filter(col("event_type") === "click")
        .select(col("bucket"), col("hm").as("c"))
      val v = hourly.filter(col("event_type") === "view")
        .select(col("bucket"), col("hm").as("v"))
      val cur = c.join(v, Seq("bucket")).localCheckpoint(true)
      val prev = cur.select(
        (col("bucket") + expr("INTERVAL 1 HOUR")).as("bucket"),
        col("c").as("cp"), col("v").as("vp"))
      val dirs = cur.join(prev, Seq("bucket"))
        .select(explode(array(
          struct(lit("click->view").as("dn"), col("v").as("y"),
            col("vp").as("yl"), col("cp").as("xl")),
          struct(lit("view->click").as("dn"), col("c").as("y"),
            col("cp").as("yl"), col("vp").as("xl")))).as("t"))
        .select(col("t.dn").as("direction"), col("t.y").as("y"),
          col("t.yl").as("yl"), col("t.xl").as("xl"))
        .withColumn("yd", col("y").cast("decimal(14,6)"))
        .withColumn("y1", col("yl").cast("decimal(14,6)"))
        .withColumn("x1", col("xl").cast("decimal(14,6)"))
        .withColumn("pyy", (col("yd") * col("yd")).cast("decimal(30,12)"))
        .withColumn("p11", (col("y1") * col("y1")).cast("decimal(30,12)"))
        .withColumn("p22", (col("x1") * col("x1")).cast("decimal(30,12)"))
        .withColumn("p1y", (col("y1") * col("yd")).cast("decimal(30,12)"))
        .withColumn("p2y", (col("x1") * col("yd")).cast("decimal(30,12)"))
        .withColumn("p12", (col("y1") * col("x1")).cast("decimal(30,12)"))
      dirs.groupBy(col("direction"))
        .agg(count(lit(1)).as("n"),
          sum(col("yd")).cast("decimal(14,6)").as("sy"),
          sum(col("y1")).cast("decimal(14,6)").as("s1"),
          sum(col("x1")).cast("decimal(14,6)").as("s2"),
          sum(col("pyy")).as("syy"), sum(col("p11")).as("s11"),
          sum(col("p22")).as("s22"), sum(col("p1y")).as("s1y"),
          sum(col("p2y")).as("s2y"), sum(col("p12")).as("s12"))
        // every centered moment and every output below is the SAME
        // double expression tree the oracle spells — order of operations
        // included
        .withColumn("cyy", expr("cast(n as double) * cast(syy as double)" +
          " - cast(sy as double) * cast(sy as double)"))
        .withColumn("c11", expr("cast(n as double) * cast(s11 as double)" +
          " - cast(s1 as double) * cast(s1 as double)"))
        .withColumn("c22", expr("cast(n as double) * cast(s22 as double)" +
          " - cast(s2 as double) * cast(s2 as double)"))
        .withColumn("c1y", expr("cast(n as double) * cast(s1y as double)" +
          " - cast(s1 as double) * cast(sy as double)"))
        .withColumn("c2y", expr("cast(n as double) * cast(s2y as double)" +
          " - cast(s2 as double) * cast(sy as double)"))
        .withColumn("c12", expr("cast(n as double) * cast(s12 as double)" +
          " - cast(s1 as double) * cast(s2 as double)"))
        .withColumn("det", expr("c11 * c22 - c12 * c12"))
        .withColumn("b1", expr("(c1y * c22 - c2y * c12) / det"))
        .withColumn("b2", expr("(c2y * c11 - c1y * c12) / det"))
        .withColumn("rssu", expr("cyy - b1 * c1y - b2 * c2y"))
        .withColumn("rssr", expr("cyy - c1y * c1y / c11"))
        .withColumn("f_stat", expr(
          "(rssr - rssu) * (cast(n as double) - 3.0) / rssu"))
        .select(col("direction"), col("n"),
          round(col("b1"), 6).as("beta_ylag"),
          round(col("b2"), 6).as("beta_xlag"),
          round(col("f_stat"), 6).as("f_stat"),
          round(expr("1.0 - rssr / cyy"), 6).as("r2_r"),
          round(expr("1.0 - rssu / cyy"), 6).as("r2_u"))
        .orderBy(col("direction"))
    },
      // identical moment pipeline; the two directions are the two SELECTs
      // of a UNION ALL; every double expression is token-matched to the
      // Spark tree (decimal multiplies carry the (20,6) widen — DuckDB
      // multiplies DECIMAL(14,6) pairs in int64 and overflows without it)
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sx, COUNT(*) AS n
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1, 2),
        |hm AS (
        |  SELECT event_type, bucket,
        |    CAST((2 * CAST(sx * 1000000 AS BIGINT) + n) // (2 * n)
        |      AS DOUBLE) / 1e6 AS hm
        |  FROM hourly),
        |cur AS (
        |  SELECT a.bucket, a.hm AS c, b.hm AS v
        |  FROM hm a JOIN hm b ON a.bucket = b.bucket
        |  WHERE a.event_type = 'click' AND b.event_type = 'view'),
        |pairs AS (
        |  SELECT t.bucket, t.c, t.v, p.c AS cp, p.v AS vp
        |  FROM cur t JOIN cur p
        |    ON p.bucket + INTERVAL 1 HOUR = t.bucket),
        |dirs AS (
        |  SELECT 'click->view' AS direction, v AS y, vp AS yl, cp AS xl
        |  FROM pairs
        |  UNION ALL
        |  SELECT 'view->click', c, cp, vp FROM pairs),
        |p2 AS (
        |  SELECT direction,
        |    CAST(y AS DECIMAL(14,6)) AS yd,
        |    CAST(yl AS DECIMAL(14,6)) AS y1,
        |    CAST(xl AS DECIMAL(14,6)) AS x1
        |  FROM dirs),
        |p3 AS (
        |  SELECT direction, yd, y1, x1,
        |    CAST(CAST(yd AS DECIMAL(20,6)) * yd AS DECIMAL(30,12)) AS pyy,
        |    CAST(CAST(y1 AS DECIMAL(20,6)) * y1 AS DECIMAL(30,12)) AS p11,
        |    CAST(CAST(x1 AS DECIMAL(20,6)) * x1 AS DECIMAL(30,12)) AS p22,
        |    CAST(CAST(y1 AS DECIMAL(20,6)) * yd AS DECIMAL(30,12)) AS p1y,
        |    CAST(CAST(x1 AS DECIMAL(20,6)) * yd AS DECIMAL(30,12)) AS p2y,
        |    CAST(CAST(y1 AS DECIMAL(20,6)) * x1 AS DECIMAL(30,12)) AS p12
        |  FROM p2),
        |mom AS (
        |  SELECT direction, COUNT(*) AS n,
        |    CAST(SUM(yd) AS DECIMAL(14,6)) AS sy,
        |    CAST(SUM(y1) AS DECIMAL(14,6)) AS s1,
        |    CAST(SUM(x1) AS DECIMAL(14,6)) AS s2,
        |    SUM(pyy) AS syy, SUM(p11) AS s11, SUM(p22) AS s22,
        |    SUM(p1y) AS s1y, SUM(p2y) AS s2y, SUM(p12) AS s12
        |  FROM p3 GROUP BY direction),
        |cm AS (
        |  SELECT direction, n,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy,
        |    CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS c11,
        |    CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
        |      - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) AS c22,
        |    CAST(n AS DOUBLE) * CAST(s1y AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) AS c1y,
        |    CAST(n AS DOUBLE) * CAST(s2y AS DOUBLE)
        |      - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) AS c2y,
        |    CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) AS c12
        |  FROM mom),
        |sol AS (
        |  SELECT direction, n, cyy, c11, c1y, c2y,
        |    (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
        |    (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
        |  FROM cm),
        |rss AS (
        |  SELECT direction, n, cyy, b1, b2,
        |    cyy - b1 * c1y - b2 * c2y AS rssu,
        |    cyy - c1y * c1y / c11 AS rssr
        |  FROM sol)
        |SELECT direction, CAST(n AS BIGINT) AS n,
        |  ROUND(b1, 6) AS beta_ylag,
        |  ROUND(b2, 6) AS beta_xlag,
        |  ROUND((rssr - rssu) * (CAST(n AS DOUBLE) - 3.0) / rssu, 6)
        |    AS f_stat,
        |  ROUND(1.0 - rssr / cyy, 6) AS r2_r,
        |  ROUND(1.0 - rssu / cyy, 6) AS r2_u
        |FROM rss ORDER BY direction""".stripMargin),

    // ALLEN'S INTERVAL ALGEBRA: classify each day's 'error' activity
    // interval against its 'purchase' interval into one of the 13 Allen
    // relations (before/meets/overlaps/starts/during/finishes/equals +
    // inverses) — the temporal-reasoning primitive behind incident
    // overlap triage ("did the error burst CONTAIN the purchase window or
    // merely overlap it?"). The ladder orders equality tests before the
    // strict ones, so degenerate (point) intervals classify identically
    // on both engines by construction. Plan: ONE events scan, ONE shuffle
    // (conditional min/max to a |days|-row frame); the classification is
    // a map-side CASE over that tiny frame. Intervals are closed, in
    // exact epoch micros.
    QuerySpec("ts57_allen_relations", (s, dir) => {
      ev(s, dir)
        .filter(col("event_type").isin("error", "purchase"))
        .withColumn("day", to_date(col("ts")))
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(col("day"))
        .agg(
          min(when(col("event_type") === "error", col("us"))).as("sa"),
          max(when(col("event_type") === "error", col("us"))).as("ea"),
          min(when(col("event_type") === "purchase", col("us"))).as("sb"),
          max(when(col("event_type") === "purchase", col("us"))).as("eb"))
        .filter(col("sa").isNotNull && col("sb").isNotNull)
        .withColumn("relation",
          when(col("sa") === col("sb") && col("ea") === col("eb"), "equals")
            .when(col("ea") < col("sb"), "before")
            .when(col("sa") > col("eb"), "after")
            .when(col("ea") === col("sb"), "meets")
            .when(col("eb") === col("sa"), "met_by")
            .when(col("sa") === col("sb") && col("ea") < col("eb"), "starts")
            .when(col("sa") === col("sb"), "started_by")
            .when(col("ea") === col("eb") && col("sa") > col("sb"), "finishes")
            .when(col("ea") === col("eb"), "finished_by")
            .when(col("sa") > col("sb") && col("ea") < col("eb"), "during")
            .when(col("sa") < col("sb") && col("ea") > col("eb"), "contains")
            .when(col("sa") < col("sb"), "overlaps")
            .otherwise("overlapped_by"))
        .select(col("day"), col("sa"), col("ea"), col("sb"), col("eb"),
          col("relation"))
        .orderBy(col("day"))
    },
      // the identical CASE ladder — relation names agree string-for-string
      """WITH iv AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    MIN(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS sa,
        |    MAX(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS ea,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      AS sb,
        |    MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      AS eb
        |  FROM events WHERE event_type IN ('error', 'purchase')
        |  GROUP BY 1)
        |SELECT day, sa, ea, sb, eb,
        |  CASE WHEN sa = sb AND ea = eb THEN 'equals'
        |       WHEN ea < sb THEN 'before'
        |       WHEN sa > eb THEN 'after'
        |       WHEN ea = sb THEN 'meets'
        |       WHEN eb = sa THEN 'met_by'
        |       WHEN sa = sb AND ea < eb THEN 'starts'
        |       WHEN sa = sb THEN 'started_by'
        |       WHEN ea = eb AND sa > sb THEN 'finishes'
        |       WHEN ea = eb THEN 'finished_by'
        |       WHEN sa > sb AND ea < eb THEN 'during'
        |       WHEN sa < sb AND ea > eb THEN 'contains'
        |       WHEN sa < sb THEN 'overlaps'
        |       ELSE 'overlapped_by' END AS relation
        |FROM iv WHERE sa IS NOT NULL AND sb IS NOT NULL
        |ORDER BY day""".stripMargin),

    // MANN–KENDALL TREND TEST (the nonparametric partner of ts35's
    // Theil–Sen slope): per event_type, S = Σ_{i<j} sign(x_j − x_i) over
    // the hourly means, the tie-corrected variance numerator
    // n(n−1)(2n+5) − Σ t(t−1)(2t+5), Kendall's τ_a, and the
    // continuity-corrected z — "is there ANY monotone trend?" answered
    // without assuming linearity or normality. Everything except the two
    // final rounded outputs is exact 64-bit integer arithmetic: hourly
    // means live in 1e-6 micro-units ([[hourlyMicroMean]]), so sign
    // comparisons, tie groups and the variance polynomial are all integer
    // — bit-identical on both engines by construction; z and τ are each
    // ONE fixed IEEE tree over those integers. Scale: the pair join runs
    // on the PRE-COMPRESSED hourly frame (|hours|² per series, ts35's
    // class — 720² here), never on raw events; many series shard on g.
    QuerySpec("ts60_mann_kendall", (s, dir) => {
      val h = hourlyMicroMean(s, dir).localCheckpoint(true)
      val later = h.select(col("g"), col("bucket").as("bj"), col("m").as("mj"))
      val sStat = h.join(later, Seq("g"))
        .filter(col("bucket") < col("bj"))
        .groupBy(col("g"))
        .agg(sum(when(col("mj") > col("m"), 1L)
          .when(col("mj") < col("m"), -1L).otherwise(0L)).as("s_stat"))
      val ties = h.groupBy(col("g"), col("m")).agg(count(lit(1)).as("t"))
        .groupBy(col("g"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .as("tie_term"))
      val nn = h.groupBy(col("g")).agg(count(lit(1)).as("n"))
      sStat.join(ties, Seq("g")).join(nn, Seq("g"))
        .withColumn("var_num",
          col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tie_term"))
        .select(col("g").as("event_type"), col("n"), col("s_stat"),
          col("tie_term"), col("var_num"),
          round(expr("case when s_stat > 0 then" +
            " (cast(s_stat as double) - 1.0) / sqrt(cast(var_num as double) / 18.0)" +
            " when s_stat < 0 then" +
            " (cast(s_stat as double) + 1.0) / sqrt(cast(var_num as double) / 18.0)" +
            " else 0.0 end"), 6).as("z"),
          round(expr("cast(s_stat as double) /" +
            " (cast(n as double) * (cast(n as double) - 1.0) / 2.0)"), 6)
            .as("tau"))
        .orderBy(col("event_type"))
    },
      // integer micro-unit hourly means -> all-integer S / ties / variance
      // polynomial; z and tau are the identical one-tree IEEE spellings
      s"""WITH $hourlyMicroSql,
        |pr AS (
        |  SELECT a.g,
        |    CASE WHEN b.m > a.m THEN 1 WHEN b.m < a.m THEN -1 ELSE 0 END
        |      AS sgn
        |  FROM hm a JOIN hm b ON a.g = b.g AND a.bucket < b.bucket),
        |s AS (SELECT g, CAST(SUM(sgn) AS BIGINT) AS s_stat FROM pr
        |      GROUP BY g),
        |tie AS (
        |  SELECT g,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM (SELECT g, m, COUNT(*) AS t FROM hm GROUP BY g, m)
        |  GROUP BY g),
        |nn AS (SELECT g, COUNT(*) AS n FROM hm GROUP BY g),
        |vv AS (
        |  SELECT s.g, nn.n, s.s_stat, tie.tie_term,
        |    CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - tie.tie_term
        |      AS BIGINT) AS var_num
        |  FROM s JOIN tie ON s.g = tie.g JOIN nn ON s.g = nn.g)
        |SELECT g AS event_type, n, s_stat, tie_term, var_num,
        |  ROUND(CASE WHEN s_stat > 0 THEN
        |      (CAST(s_stat AS DOUBLE) - 1.0)
        |        / sqrt(CAST(var_num AS DOUBLE) / 18.0)
        |    WHEN s_stat < 0 THEN
        |      (CAST(s_stat AS DOUBLE) + 1.0)
        |        / sqrt(CAST(var_num AS DOUBLE) / 18.0)
        |    ELSE 0.0 END, 6) AS z,
        |  ROUND(CAST(s_stat AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0), 6) AS tau
        |FROM vv ORDER BY event_type""".stripMargin),

    // WILDER RSI, SMA-14 form (the momentum oscillator, on the simple
    // 14-bucket moving averages rather than the recursive smoothing — the
    // windowed form is order-free and exactly portable): per event_type,
    // hourly-mean deltas split into integer micro-unit gains/losses,
    // 14-bucket rolling sums via ONE window frame, RSI = 100·G/(G+L)
    // computed as an exact integer floor-division in 1e-6 units (both
    // operands non-negative, so Spark `div` ≡ DuckDB `//`), flat windows
    // (G+L=0) pinned to 50 by convention on both engines. Headroom:
    // G ≤ 14·max|Δ| ≤ 7.9e9 micro, ×1e8 = 7.9e17 < 2⁶³. Deltas are over
    // OBSERVED buckets (documented: gaps collapse, no fill) — the grid
    // join stays out of the hot path. One scan, one shuffle to the hourly
    // frame, one window sort per series.
    QuerySpec("ts61_rsi", (s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("bucket"))
      val d = hourlyMicroMean(s, dir)
        .withColumn("delta", col("m") - lag(col("m"), 1).over(w))
        .filter(col("delta").isNotNull)
        .withColumn("gain", greatest(col("delta"), lit(0L)))
        .withColumn("loss", greatest(-col("delta"), lit(0L)))
      val w14 = w.rowsBetween(-13, 0)
      d.withColumn("rn", row_number().over(w))
        .withColumn("g14", sum(col("gain")).over(w14))
        .withColumn("l14", sum(col("loss")).over(w14))
        .filter(col("rn") >= 14)
        .select(col("g").as("event_type"), col("bucket"),
          col("g14").as("gain_sum"), col("l14").as("loss_sum"),
          expr("case when g14 + l14 = 0 then cast(50.0 as double)" +
            " else cast((g14 * 100000000) div (g14 + l14) as double) / 1e6" +
            " end").as("rsi"))
        .orderBy(col("event_type"), col("bucket"))
    },
      // integer gains/losses, 14-row window sums, RSI as the exact
      // floor-division in micro-units (both operands non-negative)
      s"""WITH $hourlyMicroSql,
        |d AS (
        |  SELECT g, bucket,
        |    m - lag(m, 1) OVER (PARTITION BY g ORDER BY bucket) AS delta
        |  FROM hm),
        |gl AS (
        |  SELECT g, bucket,
        |    GREATEST(delta, 0) AS gain, GREATEST(-delta, 0) AS loss
        |  FROM d WHERE delta IS NOT NULL),
        |r AS (
        |  SELECT g, bucket,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY bucket) AS rn,
        |    CAST(SUM(gain) OVER (PARTITION BY g ORDER BY bucket
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT) AS g14,
        |    CAST(SUM(loss) OVER (PARTITION BY g ORDER BY bucket
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT) AS l14
        |  FROM gl)
        |SELECT g AS event_type, bucket, g14 AS gain_sum, l14 AS loss_sum,
        |  CASE WHEN g14 + l14 = 0 THEN CAST(50.0 AS DOUBLE)
        |    ELSE CAST((g14 * 100000000) // (g14 + l14) AS DOUBLE) / 1e6
        |  END AS rsi
        |FROM r WHERE rn >= 14 ORDER BY event_type, bucket""".stripMargin),

    // WALD–WOLFOWITZ RUNS TEST (randomness screen): per event_type, code
    // each hourly mean as above/not-above the series' own mean threshold
    // (integer micro-units — the tie convention "equal counts as below"
    // is identical on both engines because the comparison is integer),
    // count the runs, and z-score the run count against its exact
    // two-state expectation μ = 1 + 2·n₁·n₀/n,
    // σ² = 2·n₁·n₀·(2·n₁·n₀ − n) / (n²·(n−1)). A trending series (ts60)
    // and an oscillating one both fail this differently — too FEW runs
    // vs too MANY — so the signed z is the diagnostic. All counts exact
    // integers; μ/σ²/z are ONE fixed IEEE tree; a degenerate series
    // (all one side) pins z to 0. Same scale shape as ts60 minus the
    // pair join: hourly frame, one window sort, one aggregate.
    QuerySpec("ts62_runs_test", (s, dir) => {
      val h = hourlyMicroMean(s, dir)
      val thr = h.groupBy(col("g"))
        .agg(expr("sum(m) div count(1)").as("tau_m"))
      val w = Window.partitionBy(col("g")).orderBy(col("bucket"))
      h.join(broadcast(thr), Seq("g"))
        .withColumn("sgn", when(col("m") > col("tau_m"), 1L).otherwise(0L))
        .withColumn("prev", lag(col("sgn"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("sgn") =!= col("prev"), 1L)
            .otherwise(0L))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("sgn")).as("n_above"),
          sum(col("brk")).as("n_runs"))
        .select(col("g").as("event_type"), col("n"), col("n_above"),
          col("n_runs"),
          round(expr("case when n_above = 0 or n_above = n then 0.0 else" +
            " (cast(n_runs as double) -" +
            "  (1.0 + 2.0 * cast(n_above * (n - n_above) as double)" +
            "   / cast(n as double))) /" +
            " sqrt(2.0 * cast(n_above * (n - n_above) as double)" +
            "  * (2.0 * cast(n_above * (n - n_above) as double)" +
            "     - cast(n as double))" +
            "  / (cast(n as double) * cast(n as double)" +
            "     * (cast(n as double) - 1.0))) end"), 6).as("z"))
        .orderBy(col("event_type"))
    },
      // identical integer coding (equal-to-threshold counts as below), runs
      // by lag-breaks, one-tree z with the degenerate-series guard
      s"""WITH $hourlyMicroSql,
        |thr AS (SELECT g, SUM(m) // COUNT(*) AS tau_m FROM hm GROUP BY g),
        |coded AS (
        |  SELECT hm.g, hm.bucket,
        |    CASE WHEN hm.m > thr.tau_m THEN 1 ELSE 0 END AS sgn
        |  FROM hm JOIN thr ON hm.g = thr.g),
        |brks AS (
        |  SELECT g, sgn,
        |    lag(sgn, 1) OVER (PARTITION BY g ORDER BY bucket) AS prev
        |  FROM coded),
        |agg AS (
        |  SELECT g, COUNT(*) AS n, CAST(SUM(sgn) AS BIGINT) AS n_above,
        |    CAST(SUM(CASE WHEN prev IS NULL OR sgn <> prev THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_runs
        |  FROM brks GROUP BY g)
        |SELECT g AS event_type, n, n_above, n_runs,
        |  ROUND(CASE WHEN n_above = 0 OR n_above = n THEN 0.0 ELSE
        |    (CAST(n_runs AS DOUBLE) -
        |     (1.0 + 2.0 * CAST(n_above * (n - n_above) AS DOUBLE)
        |      / CAST(n AS DOUBLE))) /
        |    sqrt(2.0 * CAST(n_above * (n - n_above) AS DOUBLE)
        |     * (2.0 * CAST(n_above * (n - n_above) AS DOUBLE)
        |        - CAST(n AS DOUBLE))
        |     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) - 1.0))) END, 6) AS z
        |FROM agg ORDER BY event_type""".stripMargin),

    // RUNNING-RECORD TRACKER ("new all-time high" alerts — the
    // monitoring twin of ts32's threshold rules, but the threshold is
    // the series' own past): per event_type, an hourly mean is a RECORD
    // when it strictly exceeds every earlier hour (the first hour counts
    // — vacuous truth, same on both engines). All integer micro-units:
    // the running max is a window max over an UNBOUNDED PRECEDING..-1
    // frame (one sort per series, no self-join), the summary one
    // aggregate. Record cadence falling off is the signature of a
    // saturating metric; records clustering late signals regime change —
    // first/last record timestamps expose both.
    QuerySpec("ts63_record_highs", (s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      hourlyMicroMean(s, dir)
        .withColumn("pm", max(col("m")).over(w))
        .withColumn("is_rec",
          when(col("pm").isNull || col("m") > col("pm"), 1L).otherwise(0L))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("is_rec")).as("n_records"),
          min(when(col("is_rec") === 1L, col("bucket")))
            .as("first_record"),
          max(when(col("is_rec") === 1L, col("bucket")))
            .as("last_record"),
          max(col("m")).as("max_micro"))
        .select(col("g").as("event_type"), col("n"), col("n_records"),
          col("first_record"), col("last_record"), col("max_micro"))
        .orderBy(col("event_type"))
    },
      // same strictly-greater-than-running-max coding (first row a record
      // by vacuous truth); all integer micro-units
      s"""WITH $hourlyMicroSql,
        |r AS (
        |  SELECT g, bucket, m,
        |    MAX(m) OVER (PARTITION BY g ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM hm),
        |coded AS (
        |  SELECT g, bucket, m,
        |    CASE WHEN pm IS NULL OR m > pm THEN 1 ELSE 0 END AS is_rec
        |  FROM r)
        |SELECT g AS event_type, COUNT(*) AS n,
        |  CAST(SUM(is_rec) AS BIGINT) AS n_records,
        |  MIN(CASE WHEN is_rec = 1 THEN bucket END) AS first_record,
        |  MAX(CASE WHEN is_rec = 1 THEN bucket END) AS last_record,
        |  MAX(m) AS max_micro
        |FROM coded GROUP BY g ORDER BY event_type""".stripMargin),

    // DAILY DOWNTIME/SLA REPORT (the ops rollup behind ts45's burn rate):
    // per day, how many of the 24 hour slots saw at least one 'error'
    // event, and the longest error-FREE run of hour slots (the maintenance
    // window the day actually offered). Clean runs are within-day only
    // (documented — no midnight wraparound). All integer: the hour grid
    // is a 24-element sequence exploded against the |days| frame, runs
    // are gaps-and-islands (slot − row_number is constant inside an
    // island). Scale: everything after the distinct (day, hour) collapse
    // runs on ≤ 24·|days| rows.
    QuerySpec("ts64_downtime_sla", (s, dir) => {
      val errHours = ev(s, dir)
        .filter(col("event_type") === "error")
        .select(to_date(col("ts")).as("day"),
          hour(col("ts")).cast("long").as("hr"))
        .distinct()
      val days = errHours.select(col("day")).distinct()
      val grid = days.select(col("day"),
        explode(expr("sequence(0L, 23L)")).as("hr"))
      val clear = grid.join(errHours, Seq("day", "hr"), "left_anti")
      val w = Window.partitionBy(col("day")).orderBy(col("hr"))
      val runs = clear
        .withColumn("grp", col("hr") - (row_number().over(w).cast("long") - 1))
        .groupBy(col("day"), col("grp"))
        .agg(count(lit(1)).as("run_len"))
        .groupBy(col("day"))
        .agg(max(col("run_len")).as("longest_clear_run"))
      errHours.groupBy(col("day"))
        .agg(count(lit(1)).as("error_hours"))
        .withColumn("uptime_hours", lit(24L) - col("error_hours"))
        .join(runs, Seq("day"), "left")
        .withColumn("longest_clear_run",
          coalesce(col("longest_clear_run"), lit(0L)))
        .select(col("day"), col("error_hours"), col("uptime_hours"),
          col("longest_clear_run"))
        .orderBy(col("day"))
    },
      // identical grid/islands construction; counts pinned BIGINT
      """WITH eh AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day,
        |    CAST(extract(hour FROM ts) AS BIGINT) AS hr
        |  FROM events WHERE event_type = 'error'),
        |grid AS (
        |  SELECT d.day, CAST(t.hr AS BIGINT) AS hr
        |  FROM (SELECT DISTINCT day FROM eh) d, range(0, 24) t(hr)),
        |clear AS (
        |  SELECT g.day, g.hr FROM grid g
        |  WHERE NOT EXISTS (SELECT 1 FROM eh
        |    WHERE eh.day = g.day AND eh.hr = g.hr)),
        |runs AS (
        |  SELECT day,
        |    hr - (ROW_NUMBER() OVER (PARTITION BY day ORDER BY hr) - 1)
        |      AS grp
        |  FROM clear),
        |longest AS (
        |  SELECT day, CAST(MAX(run_len) AS BIGINT) AS longest_clear_run
        |  FROM (SELECT day, grp, COUNT(*) AS run_len FROM runs
        |        GROUP BY day, grp)
        |  GROUP BY day)
        |SELECT e.day, COUNT(*) AS error_hours,
        |  24 - COUNT(*) AS uptime_hours,
        |  COALESCE(MAX(l.longest_clear_run), 0) AS longest_clear_run
        |FROM eh e LEFT JOIN longest l ON e.day = l.day
        |GROUP BY e.day ORDER BY e.day""".stripMargin),

    // TWO-SAMPLE KOLMOGOROV–SMIRNOV TEST (distribution-drift detection —
    // the nonparametric sibling of ts42's binned PSI, but bin-free): per
    // event_type, did the value DISTRIBUTION change between the first
    // half of the month (day ≤ 15) and the rest? The statistic is
    // engineered exact: values live in integer micro-units, the ECDF
    // difference is maximized as the CROSS-MULTIPLIED integer
    // |cum1·n2 − cum2·n1| (no per-step float division anywhere), and
    // only the final D = d_num/(n1·n2) and the α=0.05 critical value
    // 1.358·√((n1+n2)/(n1·n2)) are IEEE — each ONE fixed tree, with the
    // reject flag compared on the identical trees so even the boundary
    // agrees. One window sort per type over the DISTINCT value frame.
    QuerySpec("ts65_ks_two_sample", (s, dir) => {
      val pts = ev(s, dir)
        .withColumn("mval",
          expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)"))
        .withColumn("h1",
          when(dayofmonth(col("ts")) <= 15, 1L).otherwise(0L))
        .select(col("event_type").as("g"), col("mval"), col("h1"))
      val cells = pts.groupBy(col("g"), col("mval"))
        .agg(sum(col("h1")).as("c1"),
          sum(lit(1L) - col("h1")).as("c2"))
        .localCheckpoint(true) // feeds the cumsum AND the totals
      val w = Window.partitionBy(col("g")).orderBy(col("mval"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = cells
        .withColumn("cum1", sum(col("c1")).over(w))
        .withColumn("cum2", sum(col("c2")).over(w))
      val tot = cells.groupBy(col("g"))
        .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      cum.join(broadcast(tot), Seq("g"))
        .groupBy(col("g"), col("n1"), col("n2"))
        .agg(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
          .as("d_num"))
        .select(col("g").as("event_type"), col("n1"), col("n2"),
          col("d_num"),
          round(expr("cast(d_num as double)" +
            " / (cast(n1 as double) * cast(n2 as double))"), 6).as("d"),
          expr("cast(d_num as double)" +
            " / (cast(n1 as double) * cast(n2 as double))" +
            " > 1.358 * sqrt((cast(n1 as double) + cast(n2 as double))" +
            " / (cast(n1 as double) * cast(n2 as double)))").as("reject"))
        .orderBy(col("event_type"))
    },
      // identical integer ECDF cross-multiplication; distinct mvals per
      // group make the default RANGE cumsum frame equal to ROWS
      """WITH pts AS (
        |  SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS mval,
        |    CASE WHEN extract(day FROM ts) <= 15 THEN 1 ELSE 0 END AS h1
        |  FROM events),
        |cells AS (
        |  SELECT g, mval, CAST(SUM(h1) AS BIGINT) AS c1,
        |    CAST(SUM(1 - h1) AS BIGINT) AS c2
        |  FROM pts GROUP BY g, mval),
        |cum AS (
        |  SELECT g, c1, c2,
        |    CAST(SUM(c1) OVER (PARTITION BY g ORDER BY mval) AS BIGINT)
        |      AS cum1,
        |    CAST(SUM(c2) OVER (PARTITION BY g ORDER BY mval) AS BIGINT)
        |      AS cum2
        |  FROM cells),
        |tot AS (
        |  SELECT g, CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c2) AS BIGINT) AS n2
        |  FROM cells GROUP BY g),
        |d AS (
        |  SELECT c.g, t.n1, t.n2,
        |    MAX(abs(c.cum1 * t.n2 - c.cum2 * t.n1)) AS d_num
        |  FROM cum c JOIN tot t ON c.g = t.g
        |  GROUP BY c.g, t.n1, t.n2)
        |SELECT g AS event_type, n1, n2, d_num,
        |  ROUND(CAST(d_num AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS d,
        |  CAST(d_num AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    > 1.358 * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
        |      / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS reject
        |FROM d ORDER BY event_type""".stripMargin),

    // BENFORD FIRST-DIGIT AUDIT (the data-forensics screen for
    // fabricated or clipped numeric feeds): per event_type, the observed
    // leading-digit distribution of the micro-unit values vs Benford's
    // log₁₀(1+1/d) law, one row per (type, digit) with the chi-square
    // contribution. The leading digit comes from the INTEGER's decimal
    // rendering (int64 → string is portable; float formatting is not),
    // expected counts and chi² terms are each ONE fixed IEEE tree over
    // (n, literal p_d) — the nine Benford constants are shared literal
    // spellings. Zero-valued points are excluded (no leading digit).
    QuerySpec("ts66_benford_digits", (s, dir) => {
      val pts = ev(s, dir)
        .withColumn("mval",
          expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)"))
        .filter(col("mval") > 0L)
        .withColumn("digit",
          expr("cast(substring(cast(mval as string), 1, 1) as bigint)"))
      val obs = pts.groupBy(col("event_type"), col("digit"))
        .agg(count(lit(1)).as("obs"))
      val tot = pts.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      obs.join(broadcast(tot), Seq("event_type"))
        .withColumn("p", expr(BenfordPCase))
        .select(col("event_type"), col("digit"), col("obs"), col("n"),
          round(expr("cast(n as double) * p"), 6).as("expected"),
          round(expr("(cast(obs as double) - cast(n as double) * p)" +
            " * (cast(obs as double) - cast(n as double) * p)" +
            " / (cast(n as double) * p)"), 6).as("chi2_term"))
        .orderBy(col("event_type"), col("digit"))
    },
      // int64 decimal rendering is portable (float formatting is not);
      // the Benford CASE literals are the identical spellings
      s"""WITH pts AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS mval
        |  FROM events),
        |pos AS (
        |  SELECT event_type,
        |    CAST(substr(CAST(mval AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM pts WHERE mval > 0),
        |obs AS (SELECT event_type, digit, COUNT(*) AS obs FROM pos
        |        GROUP BY 1, 2),
        |tot AS (SELECT event_type, COUNT(*) AS n FROM pos GROUP BY 1),
        |j AS (
        |  SELECT o.event_type, o.digit, o.obs, t.n, $BenfordPCase AS p
        |  FROM obs o JOIN tot t ON o.event_type = t.event_type)
        |SELECT event_type, digit, obs, n,
        |  ROUND(CAST(n AS DOUBLE) * p, 6) AS expected,
        |  ROUND((CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |    * (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |    / (CAST(n AS DOUBLE) * p), 6) AS chi2_term
        |FROM j ORDER BY event_type, digit""".stripMargin),

    // PEAK DETECTION (the alert-dedup primitive behind "notify on the
    // SPIKE, not on every elevated sample"): per event_type, hourly
    // means that strictly exceed BOTH ±1 neighbors (which must exist —
    // series edges can't be peaks), with a ±2-window prominence
    // (m − max of the up-to-4 neighbors, absent ones floored to −1,
    // valid because micro means are ≥ 0). All integer micro-units; the
    // four neighbor columns share ONE window sort per series.
    QuerySpec("ts67_peaks", (s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("bucket"))
      hourlyMicroMean(s, dir)
        .withColumn("pm1", lag(col("m"), 1).over(w))
        .withColumn("nm1", lead(col("m"), 1).over(w))
        .withColumn("pm2", lag(col("m"), 2).over(w))
        .withColumn("nm2", lead(col("m"), 2).over(w))
        .filter(col("pm1").isNotNull && col("nm1").isNotNull &&
          col("m") > col("pm1") && col("m") > col("nm1"))
        .select(col("g").as("event_type"), col("bucket"), col("m"),
          (col("m") - greatest(coalesce(col("pm1"), lit(-1L)),
            coalesce(col("nm1"), lit(-1L)),
            coalesce(col("pm2"), lit(-1L)),
            coalesce(col("nm2"), lit(-1L)))).as("prominence"))
        .orderBy(col("event_type"), col("bucket"))
    },
      // identical strict-both-neighbors rule and −1-floored ±2 prominence
      s"""WITH $hourlyMicroSql,
        |nb AS (
        |  SELECT g, bucket, m,
        |    lag(m, 1) OVER w AS pm1, lead(m, 1) OVER w AS nm1,
        |    lag(m, 2) OVER w AS pm2, lead(m, 2) OVER w AS nm2
        |  FROM hm WINDOW w AS (PARTITION BY g ORDER BY bucket))
        |SELECT g AS event_type, bucket, m,
        |  m - GREATEST(COALESCE(pm1, -1), COALESCE(nm1, -1),
        |    COALESCE(pm2, -1), COALESCE(nm2, -1)) AS prominence
        |FROM nb
        |WHERE pm1 IS NOT NULL AND nm1 IS NOT NULL
        |  AND m > pm1 AND m > nm1
        |ORDER BY event_type, bucket""".stripMargin),

    // TRIMMED MEAN (the robust location estimate a metrics pipeline
    // publishes when single outliers must not move the headline number):
    // per event_type, drop the k = ⌊n/10⌋ smallest and largest VALUES
    // (ties broken by event_id so the trim set is deterministic on both
    // engines), then the exact integer-micro half-up mean of the
    // survivors next to the untrimmed mean — the gap between the two IS
    // the outlier pressure. All integer: ranks from one window sort,
    // sums exact decimals, means the shared (2·sx·10⁶+n) div (2n)
    // fragment (values ≥ 0 per the ts61 dataset contract). Scale: one
    // window sort per series + one aggregate, series-keyed shuffles.
    QuerySpec("ts68_trimmed_mean", (s, dir) => {
      val wr = Window.partitionBy(col("g"))
        .orderBy(col("value"), col("event_id"))
      ev(s, dir)
        .select(col("event_type").as("g"), col("event_id"), col("value"))
        .withColumn("r", row_number().over(wr).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
        .withColumn("keep",
          col("r") > expr("n div 10") && col("r") <= col("n") - expr("n div 10"))
        .groupBy(col("g"))
        .agg(max(col("n")).as("n"),
          max(expr("n div 10")).as("k_trim"),
          sum(when(col("keep"), sumExactCol(col("value")))).as("tsum"),
          sum(when(col("keep"), 1L)).as("tn"),
          sum(sumExactCol(col("value"))).as("sx"))
        // Same run-time nonneg guard as hourlyMicroMean: the half-up
        // `+n` offset and Spark-div-vs-DuckDB-// only agree for
        // non-negative sums, so a contract violation must fail loudly
        // instead of silently hash-diverging. coalesce(assert_true,0)
        // feeds the numerator so pruning can't drop the check.
        .select(col("g").as("event_type"), col("n"), col("k_trim"),
          expr("(2 * cast(tsum * 1000000 as bigint) + tn" +
            " + cast(coalesce(assert_true(tsum >= 0), 0) as bigint))" +
            " div (2 * tn)").as("trimmed_micro"),
          expr("(2 * cast(sx * 1000000 as bigint) + n" +
            " + cast(coalesce(assert_true(sx >= 0), 0) as bigint))" +
            " div (2 * n)").as("mean_micro"))
        .orderBy(col("event_type"))
    },
      // identical (value, event_id)-ranked trim set; counts pinned BIGINT
      """WITH rk AS (
        |  SELECT event_type AS g, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |ag AS (
        |  SELECT g, MAX(n) AS n, MAX(n // 10) AS k_trim,
        |    SUM(CASE WHEN r > n // 10 AND r <= n - n // 10
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS tsum,
        |    CAST(SUM(CASE WHEN r > n // 10 AND r <= n - n // 10
        |      THEN 1 END) AS BIGINT) AS tn,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sx
        |  FROM rk GROUP BY g)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
        |  CAST(k_trim AS BIGINT) AS k_trim,
        |  (2 * CAST(tsum * 1000000 AS BIGINT) + tn) // (2 * tn)
        |    AS trimmed_micro,
        |  (2 * CAST(sx * 1000000 AS BIGINT) + n) // (2 * n) AS mean_micro
        |FROM ag ORDER BY event_type""".stripMargin),

    // SHEWHART INDIVIDUALS / MOVING-RANGE CONTROL CHART (the SPC
    // workhorse behind "is this hour out of control?"): per event_type
    // over hourly means, center = half-up mean(m), MR̄ = half-up mean of
    // |mᵢ − mᵢ₋₁|, and the ±2.66·MR̄ limits (2.66 = 3/d₂ with d₂ = 1.128
    // for subgroup size 2 — the standard table constant, used here as
    // the exact rational 2660/1000 so the breach rule is pure INTEGER
    // cross-multiplication: 1000·|m − center| > 2660·MR̄; no float
    // anywhere in the query). Output: chart geometry + breach census
    // per series. One window sort (the lag) + two aggregates, all
    // series-keyed; the geometry joins back as a broadcast.
    QuerySpec("ts69_individuals_chart", (s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("bucket"))
      val hm = hourlyMicroMean(s, dir)
        .withColumn("pm", lag(col("m"), 1).over(w))
      val geom = hm.groupBy(col("g"))
        .agg(count(lit(1)).as("n_hours"),
          sum(col("m")).as("sm"),
          sum(when(col("pm").isNotNull, abs(col("m") - col("pm"))))
            .as("smr"),
          sum(when(col("pm").isNotNull, 1L)).as("nmr"))
        // greatest(nmr, 1): a 1-hour series has no moving range — NULL
        // mrbar (and zero breaches) instead of an ANSI divide-by-zero
        .select(col("g"), col("n_hours"),
          expr("(2 * sm + n_hours) div (2 * n_hours)").as("center"),
          expr("(2 * smr + nmr) div (2 * greatest(nmr, 1L))").as("mrbar"))
      hm.join(broadcast(geom), Seq("g"))
        .withColumn("breach",
          when(abs(col("m") - col("center")) * lit(1000L) >
            col("mrbar") * lit(2660L), 1L).otherwise(0L))
        .groupBy(col("g"), col("n_hours"), col("center"), col("mrbar"))
        .agg(sum(col("breach")).as("n_breach"),
          min(when(col("breach") === 1L, col("bucket"))).as("first_breach"))
        .select(col("g").as("event_type"), col("n_hours"), col("center"),
          col("mrbar"), col("n_breach"), col("first_breach"))
        .orderBy(col("event_type"))
    },
      // identical integer chart geometry and 1000/2660 cross-multiplied
      // breach rule
      s"""WITH $hourlyMicroSql,
        |lg AS (
        |  SELECT g, bucket, m,
        |    lag(m, 1) OVER (PARTITION BY g ORDER BY bucket) AS pm
        |  FROM hm),
        |geom AS (
        |  SELECT g, COUNT(*) AS n_hours, SUM(m) AS sm,
        |    SUM(CASE WHEN pm IS NOT NULL THEN abs(m - pm) END) AS smr,
        |    CAST(SUM(CASE WHEN pm IS NOT NULL THEN 1 END) AS BIGINT)
        |      AS nmr
        |  FROM lg GROUP BY g),
        |gm AS (
        |  SELECT g, CAST(n_hours AS BIGINT) AS n_hours,
        |    (2 * CAST(sm AS BIGINT) + n_hours) // (2 * n_hours) AS center,
        |    (2 * CAST(smr AS BIGINT) + nmr) // (2 * GREATEST(nmr, 1))
        |      AS mrbar
        |  FROM geom),
        |coded AS (
        |  SELECT l.g, gm.n_hours, gm.center, gm.mrbar, l.bucket,
        |    CASE WHEN abs(l.m - gm.center) * 1000 > gm.mrbar * 2660
        |      THEN 1 ELSE 0 END AS breach
        |  FROM lg l JOIN gm ON l.g = gm.g)
        |SELECT g AS event_type, n_hours, center, mrbar,
        |  CAST(SUM(breach) AS BIGINT) AS n_breach,
        |  MIN(CASE WHEN breach = 1 THEN bucket END) AS first_breach
        |FROM coded GROUP BY g, n_hours, center, mrbar
        |ORDER BY event_type""".stripMargin),

    // COX–STUART TREND TEST (the sign-test cousin of ts60's Mann–Kendall:
    // O(n) paired comparisons instead of O(n²), the cheap first screen a
    // pipeline runs before paying for the full test): the textbook
    // pairing — hour i (i ≤ ⌊n/2⌋) pairs with hour i + ⌈n/2⌉, so an odd
    // series drops exactly its MIDDLE hour (Round11OpsSpec pins this;
    // a ⌊n/2⌋ shift would silently drop the LAST hour instead and
    // overlap nothing) — count strict rises/falls (ties drop),
    // S = max(pos, neg), z = (2S − mp)/√mp — integer throughout with ONE
    // final IEEE tree (sqrt is correctly rounded by IEEE-754, so the
    // cn03 libm-drift class does not apply). Pairing is a row_number
    // self-join on the pre-compressed hourly frame (ts60's cost class).
    QuerySpec("ts70_cox_stuart", (s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("bucket"))
      val idx = hourlyMicroMean(s, dir)
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      val a = idx.filter(col("i") <= expr("n div 2"))
        .select(col("g"), (col("i") + (col("n") - expr("n div 2"))).as("j"),
          col("m").as("m1"))
      val b = idx.select(col("g"), col("i").as("j"), col("m").as("m2"))
      a.join(b, Seq("g", "j"))
        .groupBy(col("g"))
        .agg(sum(when(col("m2") > col("m1"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("m2") < col("m1"), 1L).otherwise(0L)).as("n_neg"))
        .withColumn("mp", col("n_pos") + col("n_neg"))
        .select(col("g").as("event_type"), col("n_pos"), col("n_neg"),
          col("mp").as("n_pairs"),
          expr("case when mp = 0 then 0.0D else" +
            " cast(2 * greatest(n_pos, n_neg) - mp as double)" +
            " / sqrt(cast(mp as double)) end").as("z"))
        .orderBy(col("event_type"))
    },
      // identical i ↔ i+⌊n/2⌋ pairing and one-tree z (sqrt is
      // IEEE-correctly-rounded on both engines)
      s"""WITH $hourlyMicroSql,
        |idx AS (
        |  SELECT g, m,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY bucket) AS i,
        |    COUNT(*) OVER (PARTITION BY g) AS n
        |  FROM hm),
        |p AS (
        |  SELECT a.g,
        |    CAST(SUM(CASE WHEN b.m > a.m THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pos,
        |    CAST(SUM(CASE WHEN b.m < a.m THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_neg
        |  FROM idx a JOIN idx b
        |    ON a.g = b.g AND b.i = a.i + (a.n - a.n // 2)
        |  WHERE a.i <= a.n // 2
        |  GROUP BY a.g)
        |SELECT g AS event_type, n_pos, n_neg,
        |  n_pos + n_neg AS n_pairs,
        |  CASE WHEN n_pos + n_neg = 0 THEN 0.0 ELSE
        |    CAST(2 * GREATEST(n_pos, n_neg) - (n_pos + n_neg) AS DOUBLE)
        |    / sqrt(CAST(n_pos + n_neg AS DOUBLE)) END AS z
        |FROM p ORDER BY event_type""".stripMargin),

    // OLS TREND LINE (the least-squares complement to ts35's robust
    // Theil–Sen — the slope a dashboard draws): per event_type over the
    // hourly index i = 1..n, slope and intercept from the normal
    // equations with EXACT integer moments: Σi = n(n+1)/2 and
    // Σi² = n(n+1)(2n+1)/6 are CLOSED FORMS of n (never summed), Σm and
    // Σi·m exact int64 (micro-means ≤ 10⁹ × hours ≤ 10³ × index ≤ 10³
    // keeps every product under 2⁶³). slope/intercept are each ONE fixed
    // IEEE tree over those integers — spelled token-identically in the
    // oracle. r² is deliberately NOT emitted: Σm² at micro scale exceeds
    // exact-double range and ts14 already owns correlation. Scale: one
    // aggregate over the pre-compressed hourly frame per series.
    QuerySpec("ts71_ols_trend", (s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("bucket"))
      hourlyMicroMean(s, dir)
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("m")).as("sy"),
          sum(col("i") * col("m")).as("sxy"))
        .select(col("g").as("event_type"), col("n"), col("sy"), col("sxy"),
          expr("cast(n * sxy - (n * (n + 1) div 2) * sy as double)" +
            " / cast(n * (n * (n + 1) * (2 * n + 1) div 6)" +
            " - (n * (n + 1) div 2) * (n * (n + 1) div 2) as double)")
            .as("slope_micro_per_hour"),
          expr("(cast(sy as double)" +
            " - cast(n * sxy - (n * (n + 1) div 2) * sy as double)" +
            " / cast(n * (n * (n + 1) * (2 * n + 1) div 6)" +
            " - (n * (n + 1) div 2) * (n * (n + 1) div 2) as double)" +
            " * cast(n * (n + 1) div 2 as double)) / cast(n as double)")
            .as("intercept_micro"))
        .orderBy(col("event_type"))
    },
      // identical closed-form index moments and one-tree normal equations
      s"""WITH $hourlyMicroSql,
        |idx AS (
        |  SELECT g, m,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY bucket) AS i
        |  FROM hm),
        |ag AS (
        |  SELECT g, COUNT(*) AS n,
        |    CAST(SUM(m) AS BIGINT) AS sy,
        |    CAST(SUM(i * m) AS BIGINT) AS sxy
        |  FROM idx GROUP BY g)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n, sy, sxy,
        |  CAST(n * sxy - (n * (n + 1) // 2) * sy AS DOUBLE)
        |    / CAST(n * (n * (n + 1) * (2 * n + 1) // 6)
        |    - (n * (n + 1) // 2) * (n * (n + 1) // 2) AS DOUBLE)
        |    AS slope_micro_per_hour,
        |  (CAST(sy AS DOUBLE)
        |    - CAST(n * sxy - (n * (n + 1) // 2) * sy AS DOUBLE)
        |    / CAST(n * (n * (n + 1) * (2 * n + 1) // 6)
        |    - (n * (n + 1) // 2) * (n * (n + 1) // 2) AS DOUBLE)
        |    * CAST(n * (n + 1) // 2 AS DOUBLE)) / CAST(n AS DOUBLE)
        |    AS intercept_micro
        |FROM ag ORDER BY event_type""".stripMargin)
  )

  /** Closed-form EMA over a keyed indexed series (g, i, x) — ts21's kernel
    * shared with ts22's double-smoothing: decay powers fold literal 0.8
    * factors (never `pow`), per-term rounding + exact-decimal sums make the
    * aggregate order-independent. Returns (g, i, ema) unrounded. */
  /** Hourly mean per event_type in exact 1e-6 micro-units as a BIGINT —
    * `(g, bucket, m)` with m = halfUpMean6 kept in integer form. Shared by
    * the ts60/ts61/ts62 trend/momentum/randomness tests so every
    * downstream comparison, difference and sum stays exact 64-bit integer
    * arithmetic on both engines (the oracle twin is the
    * `(2·sx·10⁶ + n) // (2n)` fragment). One events scan, one shuffle.
    *
    * PRECONDITION (run-time checked): sx ≥ 0. The half-up offset `+n`
    * rounds the wrong way for negative sums, and Spark `div` truncates
    * toward zero where DuckDB `//` floors — equal only on non-negative
    * operands (the cn08 canary / halfUpMean6 precondition). `events.value`
    * is non-negative by the dataset contract ts61 documents; assert_true
    * makes a violation a LOUD engine error instead of a silent
    * cross-engine divergence. Cost: one comparison per GROUP row. */
  private def hourlyMicroMean(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .withColumn("bucket", date_trunc("hour", col("ts")))
      .groupBy(col("event_type").as("g"), col("bucket"))
      .agg(sum(sumExactCol(col("value"))).as("sx"), count(lit(1)).as("n"))
      // coalesce(assert_true(...), 0) feeds m so pruning can't drop it
      .select(col("g"), col("bucket"),
        expr("(2 * cast(sx * 1000000 as bigint) + n" +
          " + cast(coalesce(assert_true(sx >= 0), 0) as bigint))" +
          " div (2 * n)").as("m"))

  /** Shared ACF estimator for ts27/ts40: per series key `g`, the
    * autocorrelation at lags 1–10 — r_L = Σ(xᵢ−μ)(xᵢ₊L−μ) / Σ(xᵢ−μ)²,
    * μ via [[halfUpMean6]]; ten lead() columns share ONE window sort,
    * terms are 12-dp-rounded exact decimals (order-independent sums).
    * Input: (g, ts_us, event_id, value). Output: (g, lag, acf, n_pairs)
    * with `acf` 6-dp-rounded. */
  private def acf10(base: DataFrame): DataFrame = {
    val stats = base.withColumn("xd", col("value").cast("decimal(18,6)"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("xd")).as("sx"))
      .select(col("g"), halfUpMean6("sx", "n").as("mu"))
    val w = Window.partitionBy(col("g")).orderBy(col("ts_us"), col("event_id"))
    val centered = base.join(broadcast(stats), Seq("g"))
      .withColumn("dx", col("value") - col("mu"))
    // lag 0 rides the SAME pass as lags 1–10 (r16, guide §2.4): its term
    // round(dx·dx, 12) is byte-identical to the old separate denominator
    // aggregate's addends (lead(dx, 0) ≡ dx). r17 (guide §1.2 per-task
    // work): the eleven lag sums are ELEVEN AGGREGATE COLUMNS of one
    // groupBy(g) instead of an 11× posexplode into a (g, lag)-keyed
    // aggregate — same decimal addends, order-insensitive sums, but no
    // 11n-row materialization and no (g, lag) shuffle; profiled, the
    // explode form was a single 1.86 s one-task stage at sf0.1 (the
    // series key bounds window parallelism, so per-task constants are
    // the only lever in this stage). sum() skips the NULL tail terms
    // exactly as the old isNotNull filter did; count(dyL) counts the
    // same non-null pairs.
    val leadCols = col("g") +: col("dx") +:
      (1 to 10).map(l => lead(col("dx"), l).over(w).as(s"dy$l"))
    def term(dy: String) =
      expr(s"cast(round(dx * $dy, 12) as decimal(28,12))")
    val aggCols = Seq(sum(term("dx")).as("num0"),
      count(lit(1)).as("np0")) ++
      (1 to 10).flatMap(l => Seq(sum(term(s"dy$l")).as(s"num$l"),
        count(col(s"dy$l")).as(s"np$l")))
    // |series| rows × 23 columns, two consumers (numerators + lag-0
    // denominator)
    val wide = centered.select(leadCols: _*)
      .groupBy(col("g"))
      .agg(aggCols.head, aggCols.tail: _*)
      .localCheckpoint(true)
    val stackArgs = (0 to 10).map(l => s"$l, num$l, np$l").mkString(", ")
    val terms = wide
      .selectExpr("g", s"stack(11, $stackArgs) AS (lag, num, n_pairs)")
      // a lag with zero overlapping pairs must be ABSENT (the pre-r17
      // grouped form simply had no row), not NULL — unreachable at the
      // graded scales (every series ≫ 11 points) but the operator's
      // domain is not the test data
      .filter(col("n_pairs") > 0)
    val dens = terms.filter(col("lag") === 0)
      .select(col("g"), col("num").as("den"))
    terms.filter(col("lag") >= 1)
      .join(broadcast(dens), Seq("g"))
      .select(col("g"), col("lag"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("acf"),
        col("n_pairs"))
  }

  /** Shared DuckDB replay of [[hourlyMicroMean]] — one CTE body (no WITH)
    * ending in `hm(g, bucket, m)` with m the exact micro-unit BIGINT mean. */
  private def hourlyMicroSql: String =
    """hm AS (
      |  SELECT event_type AS g, date_trunc('hour', ts) AS bucket,
      |    (2 * CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
      |       + COUNT(*)) // (2 * COUNT(*)) AS m
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Shared DuckDB replay of [[acf10]] — CTE bodies only (no WITH),
    * ending in `a(g, lag, acf, n_pairs)`: centered series by row-number
    * self-join at each lag, 12-dp-rounded terms summed as exact
    * decimals, integer-micro half-up mean. */
  private def acf10Sql: String =
    """pts AS (
      |  SELECT event_type AS g, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY ts, event_id) AS i
      |  FROM events),
      |st AS (
      |  SELECT event_type AS g, COUNT(*) AS n,
      |    SUM(CAST(value AS DECIMAL(18,6))) AS sx
      |  FROM events GROUP BY event_type),
      |mu AS (SELECT g,
      |         CAST((2 * CAST(sx * 1000000 AS BIGINT) + n) // (2 * n)
      |              AS DOUBLE) / 1000000.0 AS mu FROM st),
      |d AS (SELECT p.g, p.i, p.value - m.mu AS dx
      |      FROM pts p JOIN mu m USING (g)),
      |den AS (
      |  SELECT g, SUM(CAST(ROUND(dx * dx, 12) AS DECIMAL(28,12))) AS den
      |  FROM d GROUP BY g),
      |lags AS (SELECT unnest(range(1, 11)) AS lag),
      |num AS (
      |  SELECT a.g, l.lag,
      |    SUM(CAST(ROUND(a.dx * b.dx, 12) AS DECIMAL(28,12))) AS num,
      |    COUNT(*) AS n_pairs
      |  FROM d a
      |  JOIN lags l ON true
      |  JOIN d b ON b.g = a.g AND b.i = a.i + l.lag
      |  GROUP BY a.g, l.lag),
      |a AS (
      |  SELECT n.g, n.lag,
      |    ROUND(CAST(n.num AS DOUBLE) / CAST(dn.den AS DOUBLE), 6) AS acf,
      |    n_pairs
      |  FROM num n JOIN den dn USING (g))""".stripMargin

  /** Shared DuckDB replay of [[decomposeHourly]] — CTE bodies only (no
    * WITH), ending in `dc(g, h_us, p, x, trend, sidx, resid)`. */
  private def decomposeSql: String =
    """h0 AS (
      |  SELECT event_type AS g, date_trunc('hour', ts) AS h,
      |    CAST((2 * CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
      |          + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS x
      |  FROM events GROUP BY g, h),
      |hh AS (SELECT g, epoch_us(h) AS h_us,
      |       CAST(EXTRACT(hour FROM h) AS BIGINT) AS p, x FROM h0),
      |t0 AS (
      |  SELECT *,
      |    SUM(CAST(x AS DECIMAL(18,6))) OVER (PARTITION BY g ORDER BY h_us
      |      ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS sA,
      |    COUNT(*) OVER (PARTITION BY g ORDER BY h_us
      |      ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS nA,
      |    SUM(CAST(x AS DECIMAL(18,6))) OVER (PARTITION BY g ORDER BY h_us
      |      ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS sB,
      |    COUNT(*) OVER (PARTITION BY g ORDER BY h_us
      |      ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS nB
      |  FROM hh),
      |t1 AS (
      |  SELECT g, h_us, p, x,
      |    CAST((2 * (CAST((sA + sB) * 1000000 AS BIGINT) + 480000000000)
      |          + 48) // 96 AS DOUBLE)
      |      / 1000000.0 - 10000.0 AS trend
      |  FROM t0 WHERE nA = 24 AND nB = 24),
      |tr AS (SELECT g, h_us, p, x, trend, ROUND(x - trend, 6) AS detr FROM t1),
      |pm0 AS (
      |  SELECT g, p, COUNT(*) AS n,
      |    CAST(SUM(CAST(detr + 10000.0 AS DECIMAL(18,6))) * 1000000 AS BIGINT)
      |      AS sd
      |  FROM tr GROUP BY g, p),
      |pm AS (SELECT g, p,
      |    CAST((2 * sd + n) // (2 * n) AS DOUBLE) / 1000000.0 - 10000.0 AS pmu
      |  FROM pm0),
      |mu0 AS (
      |  SELECT g, COUNT(*) AS n,
      |    CAST(SUM(CAST(pmu + 10000.0 AS DECIMAL(18,6))) * 1000000 AS BIGINT)
      |      AS sm
      |  FROM pm GROUP BY g),
      |mu AS (SELECT g,
      |    CAST((2 * sm + n) // (2 * n) AS DOUBLE) / 1000000.0 - 10000.0 AS gmu
      |  FROM mu0),
      |sx AS (SELECT pm.g, pm.p, ROUND(pmu - gmu, 6) AS sidx
      |       FROM pm JOIN mu ON mu.g = pm.g),
      |dc AS (
      |  SELECT tr.g, tr.h_us, tr.p, tr.x, tr.trend, sx.sidx,
      |    ROUND(tr.detr - sx.sidx, 6) AS resid
      |  FROM tr JOIN sx ON sx.g = tr.g AND sx.p = tr.p)""".stripMargin

  /** ts33/ts36's shared classical decomposition: the hourly series per
    * type with (x, trend, sidx, resid) columns — 2×24 centered-MA trend,
    * hour-of-day seasonal recentred to ~0, residual. All quotients in
    * exact integer micro-units with half-up (see ts33's comment for the
    * half-micro law and the +10000 div/floor offset). */
  private def decomposeHourly(s: SparkSession, dir: String): DataFrame = {
    val hourly = ev(s, dir)
      .groupBy(col("event_type").as("g"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("nh"), sum(sumExactCol(col("value"))).as("sh"))
      .withColumn("x", halfUpMean6("sh", "nh"))
      .withColumn("h_us", unix_micros(col("h")))
      .withColumn("p", hour(col("h")).cast("long"))
      .select(col("g"), col("h"), col("x"), col("h_us"), col("p"))
    val w1 = Window.partitionBy(col("g")).orderBy(col("h_us"))
      .rowsBetween(-12, 11)
    val w2 = Window.partitionBy(col("g")).orderBy(col("h_us"))
      .rowsBetween(-11, 12)
    val tr = hourly
      .withColumn("sA", sum(sumExactCol(col("x"))).over(w1))
      .withColumn("nA", count(lit(1)).over(w1))
      .withColumn("sB", sum(sumExactCol(col("x"))).over(w2))
      .withColumn("nB", count(lit(1)).over(w2))
      .filter(col("nA") === 24 && col("nB") === 24) // full windows only
      .withColumn("trend",
        // +480000 offset (10000 per hourly term × 48 terms) keeps the
        // dividend positive, so Spark's truncate-toward-zero `div` and
        // DuckDB's floor `//` agree even when the centered 24h sum goes
        // negative; 480000e6/48 = 1e10 micro exactly, removed as the
        // same -10000.0 both engines apply in identical IEEE order.
        expr("(2 * (cast((sA + sB) * 1000000 as bigint) + 480000000000L)" +
          " + 48) div 96")
          .cast("double") / 1e6 - 10000.0)
      .withColumn("detr", round(col("x") - col("trend"), 6))
    val pm = tr.groupBy(col("g"), col("p"))
      .agg(count(lit(1)).as("n"),
        sum(sumExactCol(col("detr") + lit(10000.0))).as("sd"))
      .withColumn("pmu",
        expr("(2 * cast(sd * 1000000 as bigint) + n) div (2 * n)")
          .cast("double") / 1e6 - 10000.0)
      .select(col("g"), col("p"), col("pmu"))
    val mu = pm.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(sumExactCol(col("pmu") + lit(10000.0))).as("sm"))
      .withColumn("gmu",
        expr("(2 * cast(sm * 1000000 as bigint) + n) div (2 * n)")
          .cast("double") / 1e6 - 10000.0)
      .select(col("g"), col("gmu"))
    val sidx = pm.join(mu, Seq("g"))
      .select(col("g"), col("p"), round(col("pmu") - col("gmu"), 6).as("sidx"))
    tr.join(broadcast(sidx), Seq("g", "p"))
      .withColumn("resid", round(col("detr") - col("sidx"), 6))
  }

  private def emaClosedForm(series: DataFrame): DataFrame = {
    val a = series.select(col("g"), col("i"), col("x").as("xi"))
    val b = series.select(col("g").as("g2"), col("i").as("j"), col("x").as("xj"))
    a.join(b, col("g") === col("g2") && col("j") <= col("i"))
      .withColumn("f", expr(
        """CASE WHEN i - j = 0 THEN CAST(1.0 AS DOUBLE)
          |ELSE aggregate(array_repeat(0.8D, CAST(i - j AS INT)), 1.0D,
          |               (acc, z) -> acc * z) END""".stripMargin))
      .withColumn("term", expr(
        "CAST(round((CASE WHEN j = 1 THEN f ELSE 0.2 * f END) * xj, 12) AS DECIMAL(28,12))"))
      .groupBy(col("g"), col("i"))
      // `ema` stays DECIMAL so callers can 6-dp-round it EXACTLY (decimal
      // half-up is engine-independent; rounding the casted double was the
      // ts29 class when digits 7-12 were exactly 500000)
      .agg(sum(col("term")).as("acc"))
      .select(col("g"), col("i"), col("acc").as("ema"))
  }

  /** Single-pass cumulative bucket counts for ts15/ts16: one hash aggregate,
    * each le-bucket a conditional sum (edges 1/5/25/125/625). */
  private def histCounts(events: DataFrame): DataFrame = {
    val edges = Seq(1.0, 5.0, 25.0, 125.0, 625.0)
    val les = edges.zipWithIndex.map { case (e, i) =>
      sum(when(col("value") <= e, 1L).otherwise(0L)).as(s"le$i")
    }
    events.groupBy(col("event_type"))
      .agg(les.head, (les.tail :+ count(lit(1)).as("n_total")): _*)
  }


  /** The ts21 closed-form EMA kernel as a DuckDB CTE pair (`<out>_pairs`,
    * `<out>`) over a (g, i, x) source — shared by the ts22 oracle's two
    * smoothing passes. Mirrors [[emaClosedForm]] token-for-token. */
  private def emaSql(src: String, out: String): String =
    s"""${out}_pairs AS (
       |  SELECT a.g, a.i, b.i AS j, b.x AS xj,
       |    CASE WHEN a.i - b.i = 0 THEN CAST(1.0 AS DOUBLE)
       |         ELSE list_reduce(list_transform(range(a.i - b.i),
       |                            z -> CAST(0.8 AS DOUBLE)),
       |                          (acc, z) -> acc * z) END AS f
       |  FROM $src a JOIN $src b ON a.g = b.g AND b.i <= a.i),
       |$out AS (
       |  -- ema stays DECIMAL: callers 6-dp-round it exactly before the
       |  -- double cast (engine-independent decimal half-up)
       |  SELECT g, i,
       |    SUM(CAST(ROUND((CASE WHEN j = 1 THEN f ELSE 0.2 * f END) * xj,
       |      12) AS DECIMAL(28,12))) AS ema
       |  FROM ${out}_pairs GROUP BY g, i)""".stripMargin
}
