package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.GasPipeline
import graft.streaming.GasStream
import graft.transform.GasTransform
import graft.util.TempDirs

/** Oracle-checked END-TO-END queries through the engine's own gas store:
  * fixture day-file CSVs → [[graft.GasPipeline.runBatch]] (ledger-first discovery,
  * 24 h filter, timestamp synthesis, unpivot, partitioned parquet store) →
  * [[GasQueries]] — i.e. the reference's actually-demonstrated Flux queries
  * (reference README.md:226, 243) answered by the engine's native store.
  *
  * The DuckDB oracle recomputes each answer INDEPENDENTLY from the raw CSVs
  * (filename-date extraction, `<= 86400` filter, microsecond timestamp
  * synthesis replayed in SQL), so these three queries pin the entire
  * pipeline, not just the final query step. The `sfDir` argument is unused
  * by design: the inputs are the reference-shaped day files, not the TPC-H
  * tables.
  */
object GasStoreQueries {

  /** Fixture day-file CSVs — absolute so the DuckDB oracle reads the same
    * files (the oracle SQL embeds this value, so overriding the property
    * moves BOTH sides consistently). */
  val fixtureDir: String =
    sys.props.getOrElse("graft.gas.fixture.dir", "/root/repo/src/test/resources/gas")

  /** Run the full batch pipeline into a temp store and read it back. The
    * build is memoized per session ([[TempDirs.perSession]]) — the fixture
    * is static, so gs01-gs05 (and repeated bench runs) share one pipeline
    * execution and one temp dir instead of re-ingesting per query. */
  private def storePath(spark: SparkSession): String =
    TempDirs.perSession(spark, "gas-store") { work =>
      GasPipeline.runBatch(spark, fixtureDir, s"$work/store", s"$work/ledger")
      s"$work/store"
    }
  private def store(spark: SparkSession): DataFrame =
    spark.read.parquet(storePath(spark))

  /** The same store built by the STREAMING pipeline (AvailableNow +
    * checkpoint-as-ledger, `graft.streaming.GasStream.pipeline`) instead of
    * the batch one — memoized like [[store]]. gs06 queries it against the
    * same raw-CSV oracle, which upgrades the streaming path from
    * spec-verified to oracle-verified end-to-end: any divergence between
    * the batch and streaming transform/unpivot/store stacks flips the
    * compare red. */
  private def streamStorePath(spark: SparkSession): String =
    TempDirs.perSession(spark, "gas-stream-store") { work =>
      GasStream.pipeline(spark, fixtureDir, s"$work/store", s"$work/ckpt")
        .awaitTermination()
      s"$work/store"
    }
  private def streamStore(spark: SparkSession): DataFrame =
    spark.read.parquet(streamStorePath(spark))

  /** The same store built in SNAPSHOT mode (generation directories + the
    * `_commits` log, [[graft.store.LongStore.writeSnapshot]]), then
    * deliberately RE-INGESTED with a fresh ledger (every partition gains a
    * second, identical generation) and vacuumed down to the latest. gs38
    * reads it through [[graft.store.LongStore.readCommitted]] against the
    * raw-CSV oracle: resolving anything but exactly the latest committed
    * generation (a union of generations doubles rows; a vacuum overreach
    * drops them) flips the hash. */
  private def snapshotStorePath(spark: SparkSession): String =
    TempDirs.perSession(spark, "gas-snap-store") { work =>
      val store = s"$work/store"
      GasPipeline.runBatch(spark, fixtureDir, store, s"$work/ledger",
        snapshot = true)
      // rewrite round: fresh ledger ⇒ same days land again as gen 2
      GasPipeline.runBatch(spark, fixtureDir, store, s"$work/ledger2",
        snapshot = true)
      // retention floor: gen 1 dirs are garbage-collected; the read
      // below must resolve (and find) gen 2 only
      graft.store.LongStore.vacuumSnapshots(spark, store, keepLast = 1)
      store
    }

  /** The gs family's live long stream over the fixture, built on the GIVEN
    * session (the rocks-pinned child for the RocksDB sinks — see
    * [[withRocksDb]]), optionally narrowed to `fields`. */
  private def liveLong(s: SparkSession, fields: Seq[String] = Nil,
      maxFilesPerTrigger: Int = 13): DataFrame = {
    val long = GasTransform.toLong(
      GasStream.readStream(s, fixtureDir, maxFilesPerTrigger)).drop("_src")
    if (fields.isEmpty) long else long.filter(col("_field").isin(fields: _*))
  }

  /** The family's standard two-field focus: per-key semantics proven on two
    * fields as well as on nineteen, at 2/19ths the stream volume. */
  private val coHumidity = Seq("CO (ppm)", "Humidity (%r.h.)")

  /** Memoized APPEND-mode parquet sink: once per session under `key`, run
    * the streaming frame `q` builds to completion (AvailableNow), then read
    * its output back. The query starts on its frame's own session, so a
    * frame built on a [[withRocksDb]] child keeps the provider pin. */
  private def appendSinkOnce(spark: SparkSession, key: String)(
      q: SparkSession => DataFrame): DataFrame = {
    val out = TempDirs.perSession(spark, key) { work =>
      runToEnd(q(spark).writeStream
        .format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode("append"))
      s"$work/out"
    }
    spark.read.parquet(out)
  }

  /** Start `sink` as one AvailableNow run and wait for it to drain. */
  private def runToEnd(sink: DataStreamWriter[Row]): Unit =
    sink.trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** Build a streaming frame with the state-store provider pinned to
    * RocksDB on a CHILD SESSION scoped to this one query.
    *
    * `spark.newSession()` shares the SparkContext and SharedState but
    * carries its own SessionState/SQLConf, so setting the provider here
    * is invisible to the caller's session and to any OTHER query running
    * concurrently — the round-11/12 "session-wide mutation, single-
    * threaded drivers only" constraint is gone, and ConcurrencySpec runs
    * these sink builds 4-way concurrent to prove it. `body` receives the
    * child and must build its ENTIRE stream (source frames included) on
    * it: a streaming query resolves confs from the session its frames
    * were created on, so a parent-built source frame would silently
    * escape the pin. */
  private def withRocksDb(spark: SparkSession)(
      body: SparkSession => DataFrame): DataFrame = {
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    body(rocks)
  }

  /** Result of the streaming SLIDING-window aggregation (gs07): the live
    * long stream → watermark → `window(_time, 2h, 1h)` mean per field →
    * APPEND-mode parquet sink, memoized like [[store]]. Append mode only
    * emits a window once the watermark passes its end, so at end-of-stream
    * the trailing windows (end > max event time − 30 min) are withheld —
    * that cutoff is the watermark CONTRACT, and the DuckDB oracle replays
    * it explicitly from the raw CSVs (each point expanded to its two
    * covering hourly-slid 2 h windows, windows filtered to
    * end ≤ max(_time) − 30 min). Scale shape: state is one (window, field)
    * row per open window — bounded by field cardinality × (window/slide),
    * never by stream volume; the sink is plain partitionable parquet. */
  private def slidingAgg(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-sliding") { s =>
      liveLong(s).withWatermark("_time", "30 minutes")
        .groupBy(window(col("_time"), "2 hours", "1 hour"), col("_field"))
        .agg(count(lit(1)).as("n_points"),
          sum(sumExactCol(col("_value"))).as("total"))
        .select(col("window.start").as("_bucket"), col("_field"),
          col("n_points"), col("total"))
    }

  /** gs22's sink: STREAMING HISTOGRAM — ts15's distribution query as a
    * watermarked streaming aggregate (the live drift/quality monitor a
    * sensor fleet dashboard runs): per 6 h window × field × value bin,
    * one count. Bin width 8 is a power of two (exact floor on any IEEE
    * engine), capped to bin 15, so state per open window is ≤ fields × 16
    * counters — bounded by construction, never by stream volume. Append
    * mode + 30 min watermark: a window's histogram is emitted exactly
    * once when the watermark passes its end; the oracle replays that
    * cutoff explicitly (gs07/gs21 discipline). */
  private def streamHistogram(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-hist") { s =>
      liveLong(s, coHumidity).withWatermark("_time", "30 minutes")
        .groupBy(window(col("_time"), "6 hours"), col("_field"),
          greatest(least(floor(col("_value") / 8.0), lit(15L)), lit(0L))
            .as("bin"))
        .agg(count(lit(1)).as("n_points"))
        .select(col("window.start").as("_bucket"), col("_field"),
          col("bin"), col("n_points"))
    }

  /** gs26's sink: STREAMING COUNT-MIN SKETCH — tx15's frequency sketch as
    * a live aggregate. The whole point of a CMS on a stream is that state
    * is FIXED-SIZE by construction regardless of key cardinality: 4 seeds
    * × 256 md5 buckets per (open window × field), where an exact
    * value-count sink would grow with the key domain. Each point fans out
    * to its 4 (seed, bucket) cells map-side (one md5 per seed, the tx15
    * hash family the oracle replays via hex-digit decode); the windowed
    * count is an ordinary partial-merge aggregate. Append mode + 30 min
    * watermark = the gs07/gs21/gs22 sealing contract. */
  private def streamCms(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-cms") { s =>
      liveLong(s, coHumidity)
        .withColumn("iv",
          greatest(least(floor(col("_value")), lit(63L)), lit(0L)))
        .select(col("_time"), col("_field"), explode(expr(
          "transform(sequence(0, 3), j -> named_struct('seed', j, " +
            "'bucket', cast(conv(substr(md5(cast(concat(cast(j as string), " +
            "':', cast(iv as string)) as binary)), 1, 2), 16, 10) as int)))"))
          .as("c"))
        .select(col("_time"), col("_field"), col("c.seed").as("seed"),
          col("c.bucket").as("bucket"))
        .withWatermark("_time", "30 minutes")
        .groupBy(window(col("_time"), "6 hours"), col("_field"),
          col("seed"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("_bucket"), col("_field"),
          col("seed"), col("bucket"), col("cnt"))
    }

  /** gs31's sink: UNION OF TWO INDEPENDENTLY-WATERMARKED STREAMS — two
    * sensor feeds (CO delayed ≤ 30 min, Humidity ≤ 60 min) landing in ONE
    * windowed aggregate. Spark's multi-input rule: the stateful operator
    * advances on the MIN of the per-input watermarks, so the
    * slower-delayed feed gates sealing for BOTH fields — the one union
    * semantics a multi-source pipeline must get right, and exactly what
    * the oracle replays (cutoff = LEAST(max(CO) − 30 min,
    * max(Hum) − 60 min)). State: one (count, exact decimal total) record
    * per open window × field — bounded by construction. Append mode:
    * each window emitted exactly once. */
  private def streamUnion(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-union") { s =>
      def branch(field: String, delay: String) =
        liveLong(s, Seq(field)).withWatermark("_time", delay)
      branch("CO (ppm)", "30 minutes")
        .unionByName(branch("Humidity (%r.h.)", "60 minutes"))
        .groupBy(window(col("_time"), "6 hours"), col("_field"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("_value").cast("decimal(18,6)")).as("total_dec"))
        .select(col("window.start").as("_bucket"), col("_field"),
          col("n_points"), col("total_dec"))
    }

  /** gs32's sink: STREAMING SET AGGREGATION — the occupied-bin SET per
    * (6 h window × field) via collect_set over the gs22 value bins,
    * SORT-PINNED at the edge (an unordered collect is nondeterministic
    * under partitioning and has no place in an oracle-checked engine).
    * The set showcases a streaming aggregate whose state is a BOUNDED
    * container by construction: ≤ 16 bin ids per open window × field,
    * whatever the throughput — the collect that IS safe on a stream,
    * where collect_list of raw points would grow with volume. Append
    * mode + 30 min watermark = the gs07/gs22 sealing contract. */
  private def streamBinSet(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-binset") { s =>
      liveLong(s, coHumidity).withWatermark("_time", "30 minutes")
        .groupBy(window(col("_time"), "6 hours"), col("_field"))
        .agg(sort_array(collect_set(
          greatest(least(floor(col("_value") / 8.0), lit(15L)), lit(0L))))
          .as("bins"),
          count(lit(1)).as("n_points"))
        .select(col("window.start").as("_bucket"), col("_field"),
          col("bins"), col("n_points"))
    }

  /** gs33's sink: STREAMING FIRST-DIGIT PROFILE — ts66's Benford
    * construct as a live aggregate (the data-forensics screen run at
    * ingest, where a saturated sensor or a stuck scale shows up as a
    * digit-histogram shift window over window). Stateless map side
    * (micro conversion + int64 rendering digit), then a windowed count
    * whose state is ≤ 9 digit cells per (open window × field) — bounded
    * by construction. Append mode + 30 min watermark = the gs07/gs22
    * sealing contract. */
  private def streamDigitProfile(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-digits") { s =>
      liveLong(s, coHumidity)
        .withColumn("micro", expr(
          "cast(cast(_value as decimal(18,6)) * 1000000 as bigint)"))
        .filter(col("micro") > 0L)
        .withColumn("digit", expr(
          "cast(substring(cast(micro as string), 1, 1) as bigint)"))
        .withWatermark("_time", "30 minutes")
        .groupBy(window(col("_time"), "6 hours"), col("_field"),
          col("digit"))
        .agg(count(lit(1)).as("n_points"))
        .select(col("window.start").as("_bucket"), col("_field"),
          col("digit"), col("n_points"))
    }

  /** gs25's sink: plain TUMBLING 6 h mean ingredients (count + exact
    * decimal total) per field — the simplest member of the windowed-sink
    * family (gs07 slides, gs21 does OHLC, gs22 histograms; this is the
    * bare downsampler). State: one 2-value record per open window ×
    * field — bounded by construction. Append mode + 30 min watermark =
    * the same sealing contract, replayed by the oracle. */
  private def streamTumblingMean(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-tumbling") { s =>
      liveLong(s, coHumidity).withWatermark("_time", "30 minutes")
        .groupBy(window(col("_time"), "6 hours"), col("_field"))
        .agg(count(lit(1)).as("n_points"),
          sum(sumExactCol(col("_value"))).as("total"))
        .select(col("window.start").as("_bucket"), col("_field"),
          col("n_points"), col("total"))
    }

  /** gs21's sink: streaming OHLC BARS — ts29's candlestick downsampling
    * as a LIVE windowed aggregate: per (hourly window, field) the
    * open/high/low/close + point count, where open/close are
    * `min_by`/`max_by` keyed on event time — the SAME partial-merge
    * aggregate shape as batch ts29, so the state store carries one
    * 5-value record per open window (bounded by fields × open windows,
    * never stream volume) and every micro-batch merges map-side.
    * Append mode + 30 min watermark = gs07's window-sealing CONTRACT:
    * a bar is emitted exactly once, when the watermark passes its end;
    * the oracle replays the cutoff explicitly. */
  private def streamOhlc(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-ohlc") { s =>
      liveLong(s, Seq("CO (ppm)", "Temperature (C)"))
        .withWatermark("_time", "30 minutes")
        .groupBy(window(col("_time"), "1 hour"), col("_field"))
        .agg(
          min_by(col("_value"), col("_time")).as("open"),
          max(col("_value")).as("high"),
          min(col("_value")).as("low"),
          max_by(col("_value"), col("_time")).as("close"),
          count(lit(1)).as("n_points"))
        .select(col("window.start").as("_bucket"), col("_field"),
          col("open"), col("high"), col("low"), col("close"),
          col("n_points"))
    }

  /** gs08's sink: the live STREAM-STREAM interval join
    * ([[graft.streaming.GasStream.pairedReadings]]) run end-to-end — each
    * CO reading picks up the humidity readings of the preceding 10 minutes
    * while both streams flow. Inner joins emit matches as they arrive
    * (no append-mode window cutoff to replay); the 26 h watermark is the
    * state-eviction CONTRACT (state ≈ rate × (watermark + interval), never
    * stream lifetime) and is wider than the fixture's 2-day span, so the
    * oracle is the plain interval join over the raw CSVs.
    *
    * RATE AXIS (r11 SWEEP32 note): the interval join's OUTPUT is
    * rate² × interval BY DEFINITION — every left reading pairs with every
    * right reading inside the window, so at the 112 Hz census rung the
    * result is ~10¹¹ rows and gs08/gs13 are recorded excluded-by-
    * semantics, not untested (state stays bounded per the contract
    * above; it is the RESULT that is quadratic in rate). At fusion rates
    * like that, the production forms are the board's other shapes:
    * pre-aggregate one side onto a window grid (gs07/gs29) or keep
    * last-value state and emit 1:1 enriched rows (gs34's keyed-state
    * fold) — all measured flat on the throughput ladder. */
  private def streamJoin(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-join") { s =>
      GasStream
        .pairedReadings(liveLong(s), "CO (ppm)", "Humidity (%r.h.)",
          watermark = "26 hours", withinMinutes = 10)
        .select(col("a_time"), col("a_value"), col("b_time"), col("b_value"))
    }

  /** gs13's sink: the stream-stream LEFT OUTER interval join — gs08's
    * pairing, but CO readings with NO valid humidity reading (≥ 55 %r.h.)
    * in the preceding 10 minutes emit with NULL context instead of
    * vanishing, the "reading lacks sensor context" alert a monitoring
    * pipeline needs. Outer rows are watermark-gated: Spark holds an
    * unmatched left row until the watermark proves no future right match
    * can arrive, then emits it with nulls in the final (no-data) batch —
    * so at end-of-stream, unmatched rows newer than
    * min(max aₜ, max valid bₜ) − 30 min stay withheld. That cutoff is the
    * same watermark CONTRACT gs07 pins, and the oracle replays it
    * explicitly. State stays rate × (watermark + interval), as in gs08. */
  private def streamOuterJoin(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-ojoin") { s =>
      GasStream
        .pairedReadings(liveLong(s), "CO (ppm)", "Humidity (%r.h.)",
          watermark = "30 minutes", withinMinutes = 10,
          joinType = "left_outer", bMin = Some(55.0))
        .select(col("a_time"), col("a_value"), col("b_time"), col("b_value"))
    }

  /** gs14's sink: streaming SESSION WINDOWS (`session_window`, 2 h gap) in
    * append mode — the built-in merging-session aggregation next to the
    * custom `flatMapGroupsWithState` machine (`GasStream.closedSessions`):
    * readings merge into a session while gaps stay under 2 h (sessions
    * span micro-batches AND day files), and a session emits once the
    * watermark passes its end (last event + gap). At end-of-stream,
    * sessions ending after min/max-event − 30 min stay withheld — the
    * same replayable watermark contract as gs07/gs13. State is one row
    * per OPEN session per field, never stream length. */
  private def streamSessions(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-sessions") { s =>
      liveLong(s).withWatermark("_time", "30 minutes")
        .groupBy(session_window(col("_time"), "2 hours"), col("_field"))
        .agg(count(lit(1)).as("n_points"),
          sum(sumExactCol(col("_value"))).as("total"))
        .select(col("session_window.start").as("_start"),
          col("session_window.end").as("_end"), col("_field"),
          col("n_points"), col("total"))
    }

  /** gs35's sink: REDELIVERY-SAFE enrichment — the gs09 dedup chained in
    * front of gs34's as-of enrichment, in ONE streaming query (two stateful
    * operators). This composition is load-bearing, not decorative: the
    * enrich fold's monotone guard uses `>=` (same-instant context must
    * apply), so an EXACTLY-REDELIVERED target row would pass the guard and
    * double-emit — at-least-once sources therefore require
    * `dropDuplicatesWithinWatermark` upstream, and this query proves the
    * composition emits each enriched row exactly once by matching gs34's
    * clean-stream oracle from a DOUBLED delivery of the same stream. */
  private def streamDedupEnrich(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-dedup-enrich") { s =>
      withRocksDb(s) { rocks =>
        def long() = liveLong(rocks, coHumidity)
        GasStream.lastValueEnrichStream(
          GasStream.dedupeStream(long().unionAll(long()), watermark = "30 minutes"),
          "CO (ppm)", "Humidity (%r.h.)", 55.0)
      }
    }

  /** gs09's sink: streaming EXACTLY-ONCE dedup under duplicate delivery —
    * the same day files are read by TWO independent file sources unioned
    * into one stream (every point arrives twice, the redelivery/replay
    * failure mode of real ingestion), and
    * [[graft.streaming.GasStream.dedupeStream]] must drop the second copy
    * via `dropDuplicatesWithinWatermark` keyed on the point identity
    * (measurement, field, time). State is bounded by rate × watermark —
    * which is exactly why the watermark must be the REDELIVERY horizon
    * (how far apart duplicate deliveries can arrive: 30 min here, the
    * board's standard lateness contract), NOT the stream's span: the
    * original 26 h watermark held every key of the whole stream in state
    * and the r11 32×-rate census measured the consequence — 368M input
    * rows → 184M in-memory state keys → GC death that took the
    * SparkContext down. RocksDB is pinned for the state store (the
    * gs27/gs28 pattern) so even the bounded state lives off-heap. The
    * oracle counts each raw point ONCE — a broken dedup doubles n_points
    * and flips the compare red (re-verified green after both changes:
    * the fixture's duplicates arrive in the same micro-batch, far inside
    * any watermark). Dedup semantics are per-key, so the family's
    * two-field focus proves them while the doubled stream stays 2/19ths
    * the volume. */
  private def streamDedup(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-dedup") { s =>
      withRocksDb(s) { rocks =>
        def long() = liveLong(rocks, coHumidity)
        GasStream.dedupeStream(long().unionAll(long()), watermark = "30 minutes")
          .select(col("_time"), col("_field"), col("_value"))
      }
    }

  /** gs10's sink: the STREAMING EMA — the sequential per-series recursion
    * carried as keyed state ([[graft.streaming.GasStream.emaStream]]) —
    * run end-to-end over the live long stream for two fields. The DuckDB
    * oracle replays the SAME recursion over the raw CSVs with
    * `WITH RECURSIVE`, so a stateful streaming operator is hash-verified
    * point-by-point (state carry-over, in-batch event-time ordering and
    * the smoothing arithmetic all land in every emitted row). */
  private def streamEma(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-ema") { s =>
      GasStream.emaStream(liveLong(s, coHumidity), k = 0.2)
    }

  /** gs20's sink: STREAMING FOR-DURATION ALERTS
    * ([[graft.streaming.GasStream.alertStream]]) — ts32's pending-period
    * alert contract as keyed state (fire at the 3rd consecutive
    * above-50 point, episode emitted when a point drops below), run
    * end-to-end over the live long stream for two fields. The DuckDB
    * oracle replays the gaps-and-islands episodes over the raw CSVs and
    * keeps only episodes a later below-threshold point has CLOSED —
    * the withheld-open-episode semantics verified exactly. */
  private def streamAlerts(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-alerts") { s =>
      GasStream.alertStream(liveLong(s, coHumidity), threshold = 50.0)
    }

  /** gs19's sink: the STREAMING KALMAN FILTER
    * ([[graft.streaming.GasStream.kalmanStream]]) — ts30's local-level
    * filter as keyed state sharing the batch kernel's `step`, with
    * production-style FIXED noise parameters (Q=0.5, R=4 —
    * configuration, not estimated from the unbounded stream). The DuckDB
    * oracle replays the identical per-step-rounded recursion over the raw
    * CSVs, hash-verifying state carry-over, in-batch event-time ordering
    * and the gain arithmetic point-by-point. */
  private def streamKalman(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-kalman") { s =>
      GasStream.kalmanStream(liveLong(s, coHumidity), q = 0.5, r = 4.0)
    }

  /** gs18's sink: the STREAMING DERIVATIVE
    * ([[graft.streaming.GasStream.rateStream]]) — ts09's per-series
    * instantaneous rate as keyed state, run end-to-end over the live long
    * stream for two fields. The DuckDB oracle replays the identical
    * unrounded-IEEE lag arithmetic over the raw CSVs, so the stateful
    * operator — state carry-over between micro-batches, the strict
    * monotone guard, the first-point seed — is hash-verified
    * point-by-point. */
  private def streamRate(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-rate") { s =>
      GasStream.rateStream(liveLong(s, coHumidity))
    }

  /** gs15's sink: the STREAMING CUSUM drift detector — Page's sequential
    * changepoint recursion carried as keyed state, run end-to-end over
    * the live long stream for two fields with production-style FIXED
    * parameters (μ=50, k=5, h=60 — configuration, not estimated from the
    * unbounded stream), on [[graft.streaming.GasStream.cusumStream]]'s
    * keyed-state fold and the default state store. The DuckDB oracle
    * replays the identical clamped recursion (ts26's WITH RECURSIVE shape)
    * over the raw CSVs, so the stateful detector — state carry-over
    * between micro-batches, in-batch event-time ordering,
    * clamp/alarm/reset arithmetic — is hash-verified point-by-point. */
  private def streamCusum(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-cusum") { s =>
      GasStream.cusumStream(liveLong(s, coHumidity), mu = 50.0, k = 5.0, h = 60.0)
    }

  /** gs34's sink: [[graft.streaming.GasStream.lastValueEnrichStream]] —
    * the RATE-ROBUST stream-stream pairing form (1:1 last-value keyed-state
    * enrichment on the default state store): every CO reading emitted
    * exactly once, carrying the last VALID humidity (≥ 55.0, gs13's
    * validity floor) as of its event time. This is
    * the production alternative the gs08/gs13 SWEEP32 note names: output is
    * LINEAR in rate and state is O(1) per key where the interval join's
    * output is rate² × interval by definition — the SLADDER measures it
    * flat per-row across the 3.5/28/112 Hz rungs. */
  private def streamAsofEnrich(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-asof-enrich") { s =>
      GasStream.lastValueEnrichStream(liveLong(s, coHumidity),
        "CO (ppm)", "Humidity (%r.h.)", 55.0)
    }

  /** gs27's sink: [[graft.streaming.GasStream.KmvProcessor]] — streaming
    * KMV distinct sketches on transformWithState MapState (window-start →
    * bottom-16 hash sketch); transformWithState needs the RocksDB pin.
    * Snapshot rows append per micro-batch; the reader keeps max-n_seen. */
  private def streamKmv(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-kmv") { s =>
      withRocksDb(s) { rocks =>
        GasStream.kmvStream(liveLong(rocks, coHumidity),
          windowUs = 21600000000L, k = 16)
      }
    }

  /** gs28's sink: [[graft.streaming.GasStream.TimerSealProcessor]] —
    * event-time-timer-sealed windows (RocksDB-pinned). Rows are emitted
    * exactly once, by the timer callback, so the reader takes them
    * as-is. */
  private def streamTimerSeal(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-seal") { s =>
      withRocksDb(s) { rocks =>
        GasStream.timerSealStream(liveLong(rocks, coHumidity),
          windowUs = 21600000000L)
      }
    }

  /** gs29's sink: CHAINED STREAMING AGGREGATIONS (Spark 4's
    * multiple-stateful-operator support): hourly per-field
    * count/exact-decimal-total windows feed a SECOND 6 h windowed
    * aggregate IN THE SAME streaming query — `window(window_time(w))`
    * keys the outer state by the sealed inner window's event time, so
    * the whole rollup pyramid runs incrementally with bounded state
    * (fields × open windows at EACH level) and no intermediate sink.
    * Append mode end to end: an hour flows downstream once the
    * watermark passes its end; a 6 h bucket seals once the watermark
    * passes ITS end — by containment every hour inside a sealed bucket
    * is already sealed, so the oracle's replay is exactly "all points,
    * 6 h buckets with end ≤ max − 30 min". */
  private def streamTwoLevel(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-twolevel") { s =>
      liveLong(s).withWatermark("_time", "30 minutes")
        .groupBy(window(col("_time"), "1 hour"), col("_field"))
        .agg(count(lit(1)).as("n_points"),
          sum(sumExactCol(col("_value"))).as("total"))
        .groupBy(window(window_time(col("window")), "6 hours"),
          col("_field"))
        .agg(count(lit(1)).as("n_hours"),
          sum(col("n_points")).as("n_points"),
          sum(col("total")).as("total"))
        .select(col("window.start").as("_bucket"), col("_field"),
          col("n_hours"), col("n_points"), col("total"))
    }

  /** gs30's sink: COMPLETE output mode — the live dashboard-counter shape:
    * an unwindowed per-field aggregate whose WHOLE result table is
    * re-emitted each trigger to a memory sink; the final snapshot (equal
    * by construction to the batch aggregate over everything seen) is
    * materialized to parquet at end-of-stream. Complete mode is only sane
    * when |groups| is small — state AND output are the |fields|-row table
    * itself, which is exactly the global-counters use case; windowed/keyed
    * history stays in the append-mode queries (gs07-gs29). */
  private def streamCompleteTotals(spark: SparkSession): DataFrame = {
    val path = TempDirs.perSession(spark, "gas-complete") { work =>
      runToEnd(liveLong(spark).groupBy(col("_field"))
        .agg(count(lit(1)).as("n_points"),
          sum(sumExactCol(col("_value"))).as("total"),
          max(col("_time")).as("latest"))
        .writeStream
        .format("memory")
        .queryName("gs30_totals")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode("complete"))
      spark.table("gs30_totals")
        .write.mode("overwrite").parquet(s"$work/out")
      s"$work/out"
    }
    spark.read.parquet(path)
  }

  /** gs16's sink: streaming per-window TOP-K — the "worst readings this
    * hour" dashboard tile, and the proof the engine's typed
    * [[graft.functions.TopKAggregator]] is a first-class STREAMING
    * aggregate: the same partial top-k buffers that merge map-side in
    * batch (v01) merge in the state store across micro-batches here, so
    * state per (window, field) is K (ts, value) structs — never the
    * window's points — and the append-mode watermark contract (window
    * end ≤ max event time − 30 min) is gs07's, replayed explicitly by
    * the oracle. Ranking is (value DESC, ts ASC) — the aggregator's
    * (sim DESC, c_id ASC) order with c_id = event-time micros — so the
    * emitted top-3 is deterministic and hash-comparable. */
  private def streamTopK(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-topk") { s =>
      val topk = udaf(new graft.functions.TopKAggregator(3))
      liveLong(s, Seq("CO (ppm)", "Temperature (C)"))
        .withWatermark("_time", "30 minutes")
        .groupBy(window(col("_time"), "1 hour"), col("_field"))
        .agg(topk(unix_micros(col("_time")), col("_value")).as("top"))
        .select(col("window.start").as("_bucket"), col("_field"), col("top"))
    }

  /** gs17's sink: the STREAMING STATE-RUN HISTORY
    * ([[graft.streaming.GasStream.stateRuns]]) — closed status-bucket
    * intervals (SCD2-style validity rows) emitted as each series changes
    * band, run end-to-end over the live long stream. The oracle replays
    * gaps-and-islands over the raw CSVs and drops each series' final
    * (still-open) island — the withheld-tail contract. */
  private def streamRuns(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-runs") { s =>
      GasStream.stateRuns(liveLong(s, coHumidity))
    }

  /** gs11's sink: STREAM-STATIC enrichment join — every point of the live
    * long stream picks up its field's metadata (kind/unit/scale) from a
    * static dimension by broadcast join, the canonical "enrich the stream
    * against a dimension table" shape. The static side is planned ONCE and
    * broadcast to every micro-batch: no state, no watermark, nothing
    * accumulates — at 100 TB the dimension refreshes by restarting the
    * query (or `foreachBatch` re-reading it), never by shuffling the
    * stream. The oracle joins the same literal dimension to the raw-CSV
    * replay. */
  private def streamEnrich(spark: SparkSession): DataFrame =
    appendSinkOnce(spark, "gas-enrich") { s =>
      import s.implicits._
      val dim = (Seq(
        ("CO (ppm)", "target_gas", "ppb", 1000.0),
        ("Humidity (%r.h.)", "ambient", "%r.h.", 1.0),
        ("Temperature (C)", "ambient", "C", 1.0),
        ("Flow rate (mL/min)", "control", "mL/min", 1.0),
        ("Heater voltage (V)", "control", "mV", 1000.0)) ++
        (1 to 14).map(i => (s"R$i (MOhm)", "sensor_resistance", "kOhm", 1000.0)))
        .toDF("_field", "kind", "unit", "scale")
      liveLong(s).join(broadcast(dim), Seq("_field"))
        .select(col("_time"), col("_field"), col("kind"), col("unit"),
          (col("_value") * col("scale")).as("scaled"))
    }

  /** gs12's sink: the foreachBatch incremental UPSERT
    * ([[graft.streaming.GasStream.upsertLatest]]) — "latest reading per
    * field" maintained as keyed state across micro-batches.
    * `maxFilesPerTrigger = 1` forces one batch per day file, so the merge
    * genuinely runs incrementally (state from batch 1 merged with batch 2),
    * not as one big batch. The reduce is associative+commutative, so the
    * oracle is simply the per-field argmax over the raw CSVs. */
  private def streamUpsert(spark: SparkSession): DataFrame = {
    val path = TempDirs.perSession(spark, "gas-upsert") { work =>
      GasStream.upsertLatest(liveLong(spark, maxFilesPerTrigger = 1),
        s"$work/state", s"$work/ckpt")
        .awaitTermination()
      s"$work/state"
    }
    spark.read.parquet(GasStream.latestUpsertState(path))
  }

  /** Shared oracle prelude: replay ingest+transform from the raw CSVs —
    * filename `yyyymmdd` date, `<= 86400` boundary-keeping filter, and
    * `trunc(seconds * 1e6)` microsecond synthesis (DuckDB CAST rounds, Spark
    * cast truncates, so the explicit trunc keeps both engines identical). */
  private val prelude =
    s"""WITH raw AS (
       |  SELECT *, strptime(regexp_extract(parse_filename(filename), '\\d{8}'), '%Y%m%d')
       |      + to_microseconds(CAST(trunc("Time (s)" * 1000000) AS BIGINT)) AS _time
       |  FROM read_csv('$fixtureDir/*.csv', header=true, filename=true)
       |  WHERE "Time (s)" <= 86400)""".stripMargin

  /** gs02's raw-CSV replay of the time-range window, long form. gs36,
    * gs37 and gs38 read the same window through other store layouts, and
    * each keeps this replay as its ground truth. */
  private val timeRangeReplay =
    s"""$prelude,
       |u AS (
       |  UNPIVOT (SELECT * EXCLUDE ("Time (s)", filename) FROM raw)
       |  ON COLUMNS(* EXCLUDE (_time)) INTO NAME _field VALUE _value)
       |SELECT epoch_us(_time) AS t_us, _field, _value FROM u
       |WHERE _time >= TIMESTAMP '2016-10-07 12:00:00'
       |  AND _time < TIMESTAMP '2016-10-08 00:00:30'
       |ORDER BY t_us, _field""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // the upserted SCD1 state read back: exactly one latest row per field
    QuerySpec("gs12_stream_upsert", (s, _) =>
      streamUpsert(s)
        .select(col("_field"), unix_micros(col("_time")).as("t_us"),
          col("_value"))
        .orderBy(col("_field")),
      // per-field argmax over the raw CSVs — the final upserted state must
      // equal it however the files split into micro-batches (tie-break
      // mirrors the engine's max(struct(_time, _value)))
      s"""$prelude,
         |u AS (
         |  UNPIVOT (SELECT * EXCLUDE ("Time (s)", filename) FROM raw)
         |  ON COLUMNS(* EXCLUDE (_time)) INTO NAME _field VALUE _value)
         |SELECT _field, epoch_us(_time) AS t_us, _value FROM (
         |  SELECT _field, _time, _value, ROW_NUMBER() OVER (
         |    PARTITION BY _field ORDER BY _time DESC, _value DESC) AS rn
         |  FROM u) WHERE rn = 1
         |ORDER BY _field""".stripMargin),

    // stream-static enrichment rolled up per dimension group after the
    // sink; unit scaling happens in-stream, so wrong/missing dimension
    // rows or a broken scale factor flip the totals red
    QuerySpec("gs11_stream_enrich", (s, _) =>
      streamEnrich(s)
        .groupBy(col("kind"), col("unit"))
        .agg(countDistinct(col("_field")).as("n_fields"),
          count(lit(1)).as("n_points"),
          sumExact(col("scaled")).as("total_scaled"))
        .orderBy(col("kind"), col("unit")),
      s"""$prelude,
         |u AS (
         |  UNPIVOT (SELECT * EXCLUDE ("Time (s)", filename) FROM raw)
         |  ON COLUMNS(* EXCLUDE (_time)) INTO NAME _field VALUE _value),
         |dim AS (
         |  SELECT * FROM (VALUES
         |    ('CO (ppm)', 'target_gas', 'ppb', 1000.0),
         |    ('Humidity (%r.h.)', 'ambient', '%r.h.', 1.0),
         |    ('Temperature (C)', 'ambient', 'C', 1.0),
         |    ('Flow rate (mL/min)', 'control', 'mL/min', 1.0),
         |    ('Heater voltage (V)', 'control', 'mV', 1000.0))
         |    AS t(_field, kind, unit, scale)
         |  UNION ALL
         |  SELECT 'R' || CAST(i AS VARCHAR) || ' (MOhm)', 'sensor_resistance',
         |    'kOhm', 1000.0
         |  FROM (SELECT unnest(range(1, 15)) AS i))
         |SELECT kind, unit, COUNT(DISTINCT _field) AS n_fields,
         |  COUNT(*) AS n_points,
         |  CAST(SUM(CAST(_value * CAST(scale AS DOUBLE) AS DECIMAL(18,6)))
         |    AS DOUBLE) AS total_scaled
         |FROM u JOIN dim USING (_field)
         |GROUP BY kind, unit ORDER BY kind, unit""".stripMargin),

    // streaming EMA point stream (rounded only at emission; state and the
    // recursion itself stay full-precision on both engines)
    QuerySpec("gs10_stream_ema", (s, _) =>
      streamEma(s)
        .select(col("_field"), col("ts_us"), col("value"),
          round(col("ema"), 6).as("ema"), col("n"))
        .orderBy(col("_field"), col("ts_us")),
      // the streaming EMA recursion replayed verbatim: same seed (first
      // value), same per-step expression 0.2·x + (1 − 0.2)·y — identical
      // IEEE sequence, so the hash matches without tolerance
      s"""${prelude.replace("WITH raw AS", "WITH RECURSIVE raw AS")},
         |pts AS (
         |  SELECT 'CO (ppm)' AS _field, epoch_us(_time) AS ts_us,
         |    "CO (ppm)" AS value FROM raw
         |  UNION ALL
         |  SELECT 'Humidity (%r.h.)', epoch_us(_time), "Humidity (%r.h.)"
         |  FROM raw),
         |ord AS (
         |  SELECT _field, ts_us, value,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY _field ORDER BY ts_us)
         |      AS BIGINT) AS n
         |  FROM pts),
         |rec AS (
         |  SELECT _field, ts_us, value, n, value AS ema FROM ord WHERE n = 1
         |  UNION ALL
         |  SELECT o._field, o.ts_us, o.value, o.n,
         |    0.2 * o.value + (1 - 0.2) * r.ema
         |  FROM ord o JOIN rec r ON o._field = r._field AND o.n = r.n + 1)
         |SELECT _field, ts_us, value, ROUND(ema, 6) AS ema, n
         |FROM rec ORDER BY _field, ts_us""".stripMargin),

    // Q1/Q2: dashboard field filter over the long store
    QuerySpec("gs01_field_filter", (s, _) =>
      GasQueries.fieldFilter(store(s), "CO (ppm)")
        .select(unix_micros(col("_time")).as("t_us"), col("_field"), col("_value"))
        .orderBy(col("t_us")),
      s"""$prelude
         |SELECT epoch_us(_time) AS t_us, 'CO (ppm)' AS _field, "CO (ppm)" AS _value
         |FROM raw ORDER BY t_us""".stripMargin),

    // Q3: range(start, stop) across a day boundary (partition-pruned scan)
    QuerySpec("gs02_time_range", (s, _) =>
      GasQueries.timeRange(store(s), "2016-10-07 12:00:00", "2016-10-08 00:00:30")
        .select(unix_micros(col("_time")).as("t_us"), col("_field"), col("_value"))
        .orderBy(col("t_us"), col("_field")),
      timeRangeReplay),

    // Q4 flagship slice: mean of one field per 1 h bucket for one day
    QuerySpec("gs03_field_day_mean", (s, _) =>
      GasQueries.fieldDayMean(store(s), "CO (ppm)", "2016-10-07", "1 hour")
        .select(unix_micros(col("_bucket")).as("b_us"), col("_field"),
          col("mean_value"), col("min_value"), col("max_value"), col("n_points"))
        .orderBy(col("b_us")),
      s"""$prelude,
         |d AS (
         |  SELECT _time, "CO (ppm)" AS v FROM raw
         |  WHERE _time >= TIMESTAMP '2016-10-07 00:00:00'
         |    AND _time < TIMESTAMP '2016-10-08 00:00:00')
         |SELECT epoch_us(time_bucket(INTERVAL '1 hour', _time)) AS b_us,
         |  'CO (ppm)' AS _field,
         |  CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_value,
         |  MIN(v) AS min_value, MAX(v) AS max_value, COUNT(*) AS n_points
         |FROM d GROUP BY b_us ORDER BY b_us""".stripMargin),

    // Q2 literally: the Grafana dashboard VARIABLE query (reference
    // README.md:243) — `r["_field"] == "${Resistances}"` with the variable
    // bound to one of R1..R14 — through the engine's own store
    QuerySpec("gs05_resistance_variable", (s, _) =>
      GasQueries.fieldFilter(store(s), "R7 (MOhm)")
        .select(unix_micros(col("_time")).as("t_us"), col("_field"), col("_value"))
        .orderBy(col("t_us")),
      s"""$prelude
         |SELECT epoch_us(_time) AS t_us, 'R7 (MOhm)' AS _field, "R7 (MOhm)" AS _value
         |FROM raw ORDER BY t_us""".stripMargin),

    // per-field corpus stats through the STREAMING-built store: the whole
    // readStream → transform → unpivot → foreachBatch store path answers a
    // query the oracle recomputes from the raw CSVs
    QuerySpec("gs06_stream_field_stats", (s, _) =>
      streamStore(s)
        .groupBy(col("_field"))
        .agg(count(lit(1)).as("n_points"),
          sumExact(col("_value")).as("total"),
          min(col("_value")).as("min_value"),
          max(col("_value")).as("max_value"))
        .orderBy(col("_field")),
      s"""$prelude,
         |u AS (
         |  UNPIVOT (SELECT * EXCLUDE ("Time (s)", filename) FROM raw)
         |  ON COLUMNS(* EXCLUDE (_time)) INTO NAME _field VALUE _value)
         |SELECT _field, COUNT(*) AS n_points,
         |  CAST(SUM(CAST(_value AS DECIMAL(18,6))) AS DOUBLE) AS total,
         |  MIN(_value) AS min_value, MAX(_value) AS max_value
         |FROM u GROUP BY _field ORDER BY _field""".stripMargin),

    // watermarked SLIDING-window downsampling through the LIVE streaming
    // aggregation operator (not a batch query over a store): overlapping
    // 2 h windows sliding hourly, emitted append-mode as the watermark
    // seals them — Grafana's overlapping-window smoothing done natively
    // by the stream. One field keeps the compare focused; the oracle
    // replays both the window expansion and the watermark cutoff.
    // streaming exactly-once dedup under double delivery, rolled up per
    // field after the sink; identical totals to a single clean delivery
    QuerySpec("gs09_stream_dedup", (s, _) =>
      streamDedup(s)
        .groupBy(col("_field"))
        .agg(count(lit(1)).as("n_points"),
          sumExact(col("_value")).as("total"))
        .orderBy(col("_field")),
      s"""$prelude,
         |u AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Humidity (%r.h.)', "Humidity (%r.h.)" FROM raw)
         |SELECT _field, COUNT(*) AS n_points,
         |  CAST(SUM(CAST(_value AS DECIMAL(18,6))) AS DOUBLE) AS total
         |FROM u GROUP BY _field ORDER BY _field""".stripMargin),

    // live stream-stream interval join, aggregated hourly after the sink:
    // the pair list itself is the deterministic artifact; the rollup keeps
    // the compare compact and the sums exact-decimal
    QuerySpec("gs08_stream_pair_join", (s, _) =>
      streamJoin(s)
        .groupBy(date_trunc("hour", col("a_time")).as("h"))
        .agg(count(lit(1)).as("n_pairs"),
          sumExact(col("a_value")).as("total_a"),
          sumExact(col("b_value")).as("total_b"))
        .select(unix_micros(col("h")).as("h_us"), col("n_pairs"),
          col("total_a"), col("total_b"))
        .orderBy(col("h_us")),
      s"""$prelude,
         |a AS (SELECT _time AS a_time, "CO (ppm)" AS a_value FROM raw),
         |b AS (SELECT _time AS b_time, "Humidity (%r.h.)" AS b_value FROM raw),
         |j AS (SELECT * FROM a JOIN b
         |      ON b_time BETWEEN a_time - INTERVAL 10 MINUTE AND a_time)
         |SELECT epoch_us(date_trunc('hour', a_time)) AS h_us,
         |  COUNT(*) AS n_pairs,
         |  CAST(SUM(CAST(a_value AS DECIMAL(18,6))) AS DOUBLE) AS total_a,
         |  CAST(SUM(CAST(b_value AS DECIMAL(18,6))) AS DOUBLE) AS total_b
         |FROM j GROUP BY 1 ORDER BY h_us""".stripMargin),

    // live stream-stream LEFT OUTER interval join, rolled up hourly:
    // matched rows count their valid-humidity context, unmatched CO
    // readings surface as n_unmatched with NULL context
    QuerySpec("gs13_stream_outer_join", (s, _) =>
      streamOuterJoin(s)
        .groupBy(date_trunc("hour", col("a_time")).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("b_value")).as("n_matched"),
          sum(when(col("b_value").isNull, 1L).otherwise(0L)).as("n_unmatched"),
          sumExact(col("a_value")).as("total_a"),
          sumExact(coalesce(col("b_value"), lit(0.0))).as("total_b"))
        .select(unix_micros(col("h")).as("h_us"), col("n_rows"),
          col("n_matched"), col("n_unmatched"), col("total_a"), col("total_b"))
        .orderBy(col("h_us")),
      // gs08's interval join as LEFT OUTER: matched pairs plus the
      // unmatched CO rows the watermark has sealed — the cutoff
      // min(max a, max valid b) − 30 min is replayed explicitly
      s"""$prelude,
         |a AS (SELECT _time AS a_time, "CO (ppm)" AS a_value FROM raw),
         |b AS (SELECT _time AS b_time, "Humidity (%r.h.)" AS b_value FROM raw
         |      WHERE "Humidity (%r.h.)" >= 55.0),
         |j AS (SELECT a.a_time, a.a_value, b.b_time, b.b_value FROM a JOIN b
         |      ON b_time BETWEEN a_time - INTERVAL 10 MINUTE AND a_time),
         |wm AS (SELECT least((SELECT MAX(a_time) FROM a),
         |                    (SELECT MAX(b_time) FROM b))
         |         - INTERVAL 30 MINUTE AS w),
         |un AS (SELECT a.a_time, a.a_value, CAST(NULL AS TIMESTAMP) AS b_time,
         |         CAST(NULL AS DOUBLE) AS b_value
         |       FROM a, wm
         |       WHERE NOT EXISTS (SELECT 1 FROM b
         |         WHERE b.b_time BETWEEN a.a_time - INTERVAL 10 MINUTE
         |           AND a.a_time)
         |         AND a.a_time <= wm.w),
         |allr AS (SELECT * FROM j UNION ALL SELECT * FROM un)
         |SELECT epoch_us(date_trunc('hour', a_time)) AS h_us,
         |  COUNT(*) AS n_rows,
         |  COUNT(b_value) AS n_matched,
         |  CAST(SUM(CASE WHEN b_value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unmatched,
         |  CAST(SUM(CAST(a_value AS DECIMAL(18,6))) AS DOUBLE) AS total_a,
         |  CAST(SUM(CAST(COALESCE(b_value, 0) AS DECIMAL(18,6))) AS DOUBLE)
         |    AS total_b
         |FROM allr GROUP BY 1 ORDER BY h_us""".stripMargin),

    // RATE-ROBUST stream-stream pairing — gs08's production alternative:
    // 1:1 as-of enrichment via last-value keyed state; every CO reading,
    // point-by-point, with its as-of valid-humidity context (NULL until
    // the first valid humidity — the fixture's first CO exercises it)
    QuerySpec("gs34_stream_asof_enrich", (s, _) =>
      streamAsofEnrich(s)
        .select(col("t_us"), col("v").as("co"), col("ctx_us").as("h_us"),
          col("ctx").as("h"))
        .orderBy(col("t_us")),
      // gs34: the as-of join over the raw CSVs — for each CO reading, the
      // last VALID humidity (>= 55.0) at or before its time. The running
      // max over the (time, tag)-ordered union replays the engine's
      // last-value state exactly (tag 0 = humidity before tag 1 = CO at
      // equal times — the as-of is <=); one humidity per timestamp, so the
      // value joins back by its as-of time. No watermark cutoff exists to
      // replay: the operator emits 1:1, immediately.
      s"""$prelude,
         |c AS (SELECT _time AS t, "CO (ppm)" AS co FROM raw),
         |hv AS (SELECT _time AS t, "Humidity (%r.h.)" AS h FROM raw
         |       WHERE "Humidity (%r.h.)" >= 55.0),
         |u AS (
         |  SELECT t, 0 AS tag FROM hv
         |  UNION ALL
         |  SELECT t, 1 AS tag FROM c),
         |m AS (
         |  SELECT t, tag,
         |    max(CASE WHEN tag = 0 THEN t END) OVER
         |      (ORDER BY t, tag ROWS UNBOUNDED PRECEDING) AS h_t
         |  FROM u)
         |SELECT epoch_us(c.t) AS t_us, c.co AS co,
         |  epoch_us(m.h_t) AS h_us, hv.h AS h
         |FROM c JOIN m ON m.t = c.t AND m.tag = 1
         |LEFT JOIN hv ON hv.t = m.h_t
         |ORDER BY t_us""".stripMargin),

    // REDELIVERY-SAFE composition: dedup (gs09's operator) chained in
    // front of the as-of enrichment (gs34's) in one streaming query —
    // a DOUBLED delivery of the stream must produce gs34's clean-stream
    // result row-for-row (the oracle is the same as-of join)
    QuerySpec("gs35_stream_dedup_enrich", (s, _) =>
      streamDedupEnrich(s)
        .select(col("t_us"), col("v").as("co"), col("ctx_us").as("h_us"),
          col("ctx").as("h"))
        .orderBy(col("t_us")),
      // gs35: the SAME as-of join as gs34 — a doubled delivery through the
      // dedup→enrich composition must be indistinguishable from the clean
      // stream (exactly-once observable output under at-least-once input)
      s"""$prelude,
         |c AS (SELECT _time AS t, "CO (ppm)" AS co FROM raw),
         |hv AS (SELECT _time AS t, "Humidity (%r.h.)" AS h FROM raw
         |       WHERE "Humidity (%r.h.)" >= 55.0),
         |u AS (
         |  SELECT t, 0 AS tag FROM hv
         |  UNION ALL
         |  SELECT t, 1 AS tag FROM c),
         |m AS (
         |  SELECT t, tag,
         |    max(CASE WHEN tag = 0 THEN t END) OVER
         |      (ORDER BY t, tag ROWS UNBOUNDED PRECEDING) AS h_t
         |  FROM u)
         |SELECT epoch_us(c.t) AS t_us, c.co AS co,
         |  epoch_us(m.h_t) AS h_us, hv.h AS h
         |FROM c JOIN m ON m.t = c.t AND m.tag = 1
         |LEFT JOIN hv ON hv.t = m.h_t
         |ORDER BY t_us""".stripMargin),

    // Q3 via the PARTITION MANIFEST (round-13 verdict item 2): byte-for-
    // byte gs02 — same window, same projection, same oracle — but planned
    // from the store's `_manifest` table instead of a full directory
    // listing, so a COLD driver lists O(window) leaf dirs, not the whole
    // calendar (the 3,000-partition answer; CLADDER's manifest rung
    // measures the flatness). The manifest window widens one day back for
    // the _time/_date store invariant, exactly as timeRange itself does.
    QuerySpec("gs36_manifest_time_range", (s, _) =>
      GasQueries.timeRange(
        graft.store.LongStore.readWindow(s, storePath(s),
          "2016-10-06", "2016-10-08"),
        "2016-10-07 12:00:00", "2016-10-08 00:00:30")
        .select(unix_micros(col("_time")).as("t_us"), col("_field"), col("_value"))
        .orderBy(col("t_us"), col("_field")),
      // gs36 = gs02 planned through the manifest; the ground truth is the
      // SAME raw-CSV replay — a manifest hole (missing partition, stale
      // entry, wrong window arithmetic) drops rows and flips the hash
      timeRangeReplay),

    // gs36 over the STREAM-built store (round-14 verdict item 2): the
    // foreachBatch sink now appends the partition manifest exactly like
    // the batch pipeline, so a store built by the streaming ingest plans
    // window queries through readWindow too — same window, same
    // projection, same raw-CSV oracle as gs02/gs36. Before the sink
    // wiring, readWindow on a stream-built store threw on the missing
    // `_manifest` path; this entry pins it green forever.
    QuerySpec("gs37_manifest_stream_store", (s, _) =>
      GasQueries.timeRange(
        graft.store.LongStore.readWindow(s, streamStorePath(s),
          "2016-10-06", "2016-10-08"),
        "2016-10-07 12:00:00", "2016-10-08 00:00:30")
        .select(unix_micros(col("_time")).as("t_us"), col("_field"), col("_value"))
        .orderBy(col("t_us"), col("_field")),
      // gs37 = gs36 over the streaming-built store; the ground truth stays
      // the raw-CSV replay, so a hole in the STREAMING manifest wiring
      // (missing append, wrong _src set, torn compaction) flips the hash
      timeRangeReplay),

    // gs36 over the SNAPSHOT store (round-15 verdict item 4): same
    // window, same projection, same raw-CSV oracle — but the store is the
    // generation-commit-log layout, built twice (a re-ingest round gives
    // every partition a superseded generation) and vacuumed to the
    // latest. readCommitted must resolve exactly the newest committed
    // generation per partition: a generation union doubles every row, a
    // stale resolution reads a vacuumed path, either flips the hash.
    QuerySpec("gs38_snapshot_time_range", (s, _) =>
      GasQueries.timeRange(
        graft.store.LongStore.readCommitted(s, snapshotStorePath(s),
          "2016-10-06", "2016-10-08"),
        "2016-10-07 12:00:00", "2016-10-08 00:00:30")
        .select(unix_micros(col("_time")).as("t_us"), col("_field"), col("_value"))
        .orderBy(col("t_us"), col("_field")),
      // gs38 = gs36 over the snapshot (commit-log) store after a re-ingest
      // round + vacuum; the ground truth is STILL the single clean raw-CSV
      // replay — so a generation union (doubled rows), a stale-generation
      // read, or a vacuum overreach all flip the hash
      timeRangeReplay),

    // streaming CUSUM detector readings (sp/sn already 6-dp-rounded by
    // the kernel at every step — emitted as-is)
    QuerySpec("gs15_stream_cusum", (s, _) =>
      streamCusum(s)
        .select(col("_field"), col("ts_us"), col("value"), col("sp"),
          col("sn"), col("alarm"))
        .orderBy(col("_field"), col("ts_us")),
      // the streaming CUSUM recursion replayed step-for-step (ts26's
      // clamped WITH RECURSIVE shape, fixed μ=50 k=5 h=60): per-step
      // 6-dp rounds, alarm-reset carried from the previous row — identical
      // IEEE/rounding sequence, so the hash matches without tolerance
      s"""${prelude.replace("WITH raw AS", "WITH RECURSIVE raw AS")},
         |pts AS (
         |  SELECT 'CO (ppm)' AS _field, epoch_us(_time) AS ts_us,
         |    "CO (ppm)" AS value FROM raw
         |  UNION ALL
         |  SELECT 'Humidity (%r.h.)', epoch_us(_time), "Humidity (%r.h.)"
         |  FROM raw),
         |ord AS (
         |  SELECT _field, ts_us, value,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY _field ORDER BY ts_us)
         |      AS BIGINT) AS n
         |  FROM pts),
         |rec AS (
         |  SELECT _field, ts_us, value, n,
         |    ROUND(greatest(0, ROUND(value - 50 - 5, 6)), 6) AS sp,
         |    ROUND(greatest(0, ROUND(50 - value - 5, 6)), 6) AS sn
         |  FROM ord WHERE n = 1
         |  UNION ALL
         |  SELECT o._field, o.ts_us, o.value, o.n,
         |    ROUND(greatest(0,
         |      (CASE WHEN r.sp > 60 OR r.sn > 60 THEN 0 ELSE r.sp END)
         |      + ROUND(o.value - 50 - 5, 6)), 6),
         |    ROUND(greatest(0,
         |      (CASE WHEN r.sp > 60 OR r.sn > 60 THEN 0 ELSE r.sn END)
         |      + ROUND(50 - o.value - 5, 6)), 6)
         |  FROM rec r JOIN ord o ON o._field = r._field AND o.n = r.n + 1)
         |SELECT _field, ts_us, value, sp, sn,
         |  (sp > 60 OR sn > 60) AS alarm
         |FROM rec ORDER BY _field, ts_us""".stripMargin),

    // streaming per-series instantaneous rate (unrounded IEEE, ts09's
    // arithmetic carried as keyed state)
    QuerySpec("gs18_stream_rate", (s, _) =>
      streamRate(s)
        .select(col("_field"), col("ts_us"), col("value"), col("rate_per_s"))
        .orderBy(col("_field"), col("ts_us")),
      // ts09's lag-window rate replayed over the raw CSVs: same unrounded
      // subtraction / µs-to-s division / quotient IEEE sequence, first
      // point per series dropped (it only seeds state)
      s"""$prelude,
         |pts AS (
         |  SELECT 'CO (ppm)' AS _field, epoch_us(_time) AS ts_us,
         |    "CO (ppm)" AS value FROM raw
         |  UNION ALL
         |  SELECT 'Humidity (%r.h.)', epoch_us(_time), "Humidity (%r.h.)"
         |  FROM raw),
         |l AS (
         |  SELECT _field, ts_us, value,
         |    lag(value) OVER (PARTITION BY _field ORDER BY ts_us) AS pv,
         |    lag(ts_us) OVER (PARTITION BY _field ORDER BY ts_us) AS pt
         |  FROM pts)
         |SELECT _field, ts_us, value,
         |  (value - pv) / (CAST(ts_us - pt AS DOUBLE) / 1000000.0) AS rate_per_s
         |FROM l WHERE pt IS NOT NULL AND ts_us > pt
         |ORDER BY _field, ts_us""".stripMargin),

    // streaming Kalman estimates (per-step 6-dp rounds by the shared
    // kernel — emitted as-is)
    QuerySpec("gs19_stream_kalman", (s, _) =>
      streamKalman(s)
        .select(col("_field"), col("ts_us"), col("value"), col("x_hat"),
          col("p_var"), col("k_gain"))
        .orderBy(col("_field"), col("ts_us")),
      // the streaming Kalman recursion replayed step-for-step (ts30's
      // per-assignment-rounded WITH RECURSIVE shape, fixed Q=0.5 R=4):
      // identical IEEE/rounding sequence, so the hash matches exactly
      s"""${prelude.replace("WITH raw AS", "WITH RECURSIVE raw AS")},
         |pts AS (
         |  SELECT 'CO (ppm)' AS _field, epoch_us(_time) AS ts_us,
         |    "CO (ppm)" AS value FROM raw
         |  UNION ALL
         |  SELECT 'Humidity (%r.h.)', epoch_us(_time), "Humidity (%r.h.)"
         |  FROM raw),
         |ord AS (
         |  SELECT _field, ts_us, value,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY _field ORDER BY ts_us)
         |      AS BIGINT) AS n
         |  FROM pts),
         |rec AS (
         |  SELECT _field, ts_us, value, n,
         |    ROUND(value, 6) AS x, CAST(4.0 AS DOUBLE) AS pv,
         |    CAST(1.0 AS DOUBLE) AS kg
         |  FROM ord WHERE n = 1
         |  UNION ALL
         |  SELECT o._field, o.ts_us, o.value, o.n,
         |    ROUND(q.x + ROUND(
         |      ROUND(ROUND(q.pv + 0.5, 6) / (ROUND(q.pv + 0.5, 6) + 4.0), 6)
         |      * ROUND(o.value - q.x, 6), 6), 6),
         |    ROUND((1.0 -
         |      ROUND(ROUND(q.pv + 0.5, 6) / (ROUND(q.pv + 0.5, 6) + 4.0), 6))
         |      * ROUND(q.pv + 0.5, 6), 6),
         |    ROUND(ROUND(q.pv + 0.5, 6) / (ROUND(q.pv + 0.5, 6) + 4.0), 6)
         |  FROM rec q JOIN ord o ON o._field = q._field AND o.n = q.n + 1)
         |SELECT _field, ts_us, value, x AS x_hat, pv AS p_var, kg AS k_gain
         |FROM rec ORDER BY _field, ts_us""".stripMargin),

    // closed streaming alert episodes (fire at 3rd consecutive point
    // above 50, clear on the first below; open episodes withheld)
    QuerySpec("gs20_stream_alerts", (s, _) =>
      streamAlerts(s)
        .select(col("_field"), col("fire_us"), col("clear_us"),
          col("n_points"), col("peak"))
        .orderBy(col("_field"), col("fire_us")),
      // ts32's islands replay over the raw CSVs, restricted to episodes a
      // later below-threshold point has closed (the open one is withheld)
      s"""$prelude,
         |pts AS (
         |  SELECT 'CO (ppm)' AS _field, epoch_us(_time) AS ts_us,
         |    "CO (ppm)" AS value FROM raw
         |  UNION ALL
         |  SELECT 'Humidity (%r.h.)', epoch_us(_time), "Humidity (%r.h.)"
         |  FROM raw),
         |o AS (
         |  SELECT _field, ts_us, value,
         |    ROW_NUMBER() OVER (PARTITION BY _field ORDER BY ts_us) AS rn
         |  FROM pts),
         |c AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY _field ORDER BY ts_us) AS rs
         |  FROM o WHERE value > 50),
         |i AS (
         |  SELECT *, rn - rs AS grp,
         |    ROW_NUMBER() OVER (PARTITION BY _field, rn - rs ORDER BY ts_us) AS pos
         |  FROM c),
         |ep AS (
         |  SELECT _field,
         |    MIN(CASE WHEN pos = 3 THEN ts_us END) AS fire_us,
         |    MAX(ts_us) AS clear_us,
         |    COUNT(*) AS n_points,
         |    MAX(value) AS peak
         |  FROM i GROUP BY _field, grp HAVING COUNT(*) >= 3)
         |SELECT e._field, e.fire_us, e.clear_us, e.n_points, e.peak
         |FROM ep e
         |WHERE EXISTS (SELECT 1 FROM pts b
         |              WHERE b._field = e._field AND b.value <= 50
         |                AND b.ts_us > e.clear_us)
         |ORDER BY _field, fire_us""".stripMargin),

    // closed streaming status runs (SCD2-style validity intervals)
    QuerySpec("gs17_stream_state_runs", (s, _) =>
      streamRuns(s)
        .select(col("_field"), col("status"), col("start_us"), col("end_us"),
          col("n_points"))
        .orderBy(col("_field"), col("start_us")),
      // gaps-and-islands over the raw CSVs; each series' final island is
      // still open in the stream and therefore dropped
      s"""$prelude,
         |pts AS (
         |  SELECT 'CO (ppm)' AS _field, epoch_us(_time) AS ts_us,
         |    CAST(floor("CO (ppm)" / 10.0) AS BIGINT) AS status
         |  FROM raw
         |  UNION ALL
         |  SELECT 'Humidity (%r.h.)', epoch_us(_time),
         |    CAST(floor("Humidity (%r.h.)" / 10.0) AS BIGINT)
         |  FROM raw),
         |r AS (
         |  SELECT _field, ts_us, status,
         |    ROW_NUMBER() OVER (PARTITION BY _field ORDER BY ts_us)
         |    - ROW_NUMBER() OVER (PARTITION BY _field, status ORDER BY ts_us)
         |      AS grp
         |  FROM pts),
         |g AS (
         |  SELECT _field, status, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
         |    COUNT(*) AS n_points
         |  FROM r GROUP BY _field, status, grp),
         |mx AS (SELECT _field, MAX(start_us) AS mxs FROM g GROUP BY _field)
         |SELECT g._field, g.status, g.start_us, g.end_us, g.n_points
         |FROM g JOIN mx USING (_field)
         |WHERE g.start_us <> mx.mxs
         |ORDER BY g._field, g.start_us""".stripMargin),

    // streaming per-window top-3 readings (typed TopKAggregator as the
    // window aggregate), watermark-sealed windows only
    QuerySpec("gs16_stream_window_topk", (s, _) =>
      streamTopK(s)
        .select(unix_micros(col("_bucket")).as("b_us"), col("_field"),
          posexplode(col("top")).as(Seq("i", "t")))
        .select(col("b_us"), col("_field"),
          (col("i") + 1).cast("long").as("rnk"),
          col("t.c_id").as("ts_us"), col("t.sim").as("value"))
        .orderBy(col("b_us"), col("_field"), col("rnk")),
      // per-(hour, field) top-3 by (value DESC, ts ASC) — the aggregator's
      // (sim DESC, c_id ASC) order — with gs07's watermark cutoff replayed
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value,
         |    date_trunc('hour', _time) AS ws
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Temperature (C)', "Temperature (C)",
         |    date_trunc('hour', _time)
         |  FROM raw),
         |mx AS (SELECT MAX(_time) AS mx FROM pts),
         |r AS (
         |  SELECT ws, _field, epoch_us(_time) AS ts_us, _value,
         |    ROW_NUMBER() OVER (PARTITION BY ws, _field
         |      ORDER BY _value DESC, _time) AS rnk
         |  FROM pts)
         |SELECT epoch_us(ws) AS b_us, _field, CAST(rnk AS BIGINT) AS rnk,
         |  ts_us, _value AS value
         |FROM r, mx
         |WHERE rnk <= 3 AND ws + INTERVAL 1 HOUR <= mx - INTERVAL 30 MINUTE
         |ORDER BY b_us, _field, rnk""".stripMargin),

    // closed streaming sessions (built-in session_window), watermark-
    // withheld tail replayed by the oracle; sessions genuinely span the
    // two day files (the 10 s overnight gap merges them)
    QuerySpec("gs14_stream_sessions", (s, _) =>
      streamSessions(s)
        .select(unix_micros(col("_start")).as("start_us"),
          unix_micros(col("_end")).as("end_us"), col("_field"),
          col("n_points"), col("total").cast("double").as("total"))
        .orderBy(col("_field"), col("start_us")),
      // island detection per field (new session when the gap >= 2 h),
      // window end = last event + gap, watermark cutoff replayed
      s"""$prelude,
         |u AS (
         |  UNPIVOT (SELECT * EXCLUDE ("Time (s)", filename) FROM raw)
         |  ON COLUMNS(* EXCLUDE (_time)) INTO NAME _field VALUE _value),
         |d AS (
         |  SELECT _field, _time, _value,
         |    CASE WHEN lag(_time) OVER w IS NULL
         |         OR _time - lag(_time) OVER w >= INTERVAL 2 HOUR
         |    THEN 1 ELSE 0 END AS new_s
         |  FROM u WINDOW w AS (PARTITION BY _field ORDER BY _time)),
         |s AS (
         |  SELECT _field, _time, _value,
         |    SUM(new_s) OVER (PARTITION BY _field ORDER BY _time
         |      ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM d),
         |g AS (
         |  SELECT _field, sid, MIN(_time) AS st,
         |    MAX(_time) + INTERVAL 2 HOUR AS en, COUNT(*) AS n_points,
         |    CAST(SUM(CAST(_value AS DECIMAL(18,6))) AS DOUBLE) AS total
         |  FROM s GROUP BY _field, sid),
         |wm AS (SELECT MAX(_time) - INTERVAL 30 MINUTE AS w FROM u)
         |SELECT epoch_us(st) AS start_us, epoch_us(en) AS end_us, _field,
         |  n_points, total
         |FROM g, wm WHERE en <= wm.w
         |ORDER BY _field, start_us""".stripMargin),

    QuerySpec("gs07_stream_sliding_mean", (s, _) =>
      slidingAgg(s)
        .filter(col("_field") === "CO (ppm)")
        .select(unix_micros(col("_bucket")).as("b_us"), col("_field"),
          col("n_points"),
          (col("total").cast("double") / col("n_points").cast("double"))
            .as("mean_value"))
        .orderBy(col("b_us")),
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value,
         |    date_trunc('hour', _time) AS h
         |  FROM raw),
         |mx AS (SELECT MAX(_time) AS mx FROM pts),
         |expanded AS (
         |  SELECT _field, _value, h - INTERVAL 1 HOUR AS ws FROM pts
         |  UNION ALL
         |  SELECT _field, _value, h AS ws FROM pts),
         |agg AS (
         |  SELECT ws, _field, COUNT(*) AS n_points,
         |    CAST(SUM(CAST(_value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         |      AS mean_value
         |  FROM expanded GROUP BY ws, _field)
         |SELECT epoch_us(ws) AS b_us, _field, n_points, mean_value
         |FROM agg, mx
         |WHERE ws + INTERVAL 2 HOUR <= mx - INTERVAL 30 MINUTE
         |ORDER BY b_us""".stripMargin),

    // streaming histogram (ts15's twin): watermark-sealed 6 h value
    // distribution per field — bounded 16-bin state per open window
    QuerySpec("gs22_stream_histogram", (s, _) =>
      streamHistogram(s)
        .select(unix_micros(col("_bucket")).as("b_us"), col("_field"),
          col("bin"), col("n_points"))
        .orderBy(col("b_us"), col("_field"), col("bin")),
      // hourly bars over the raw CSVs; first/last by _time; gs07's
      // watermark cutoff (bar end ≤ max event time − 30 min) replayed
      // same per-window bin counts from the raw CSVs, with the append-mode
      // sealing cutoff replayed on the final watermark (gs21 discipline);
      // window id = epoch-µs floor-division by the 6 h width
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Humidity (%r.h.)', "Humidity (%r.h.)"
         |  FROM raw),
         |mx AS (SELECT MAX(_time) AS mx FROM pts),
         |agg AS (
         |  SELECT epoch_us(_time) // 21600000000 AS wi, _field,
         |    greatest(least(CAST(floor(_value / 8.0) AS BIGINT), 15), 0)
         |      AS bin,
         |    COUNT(*) AS n_points
         |  FROM pts GROUP BY wi, _field, bin)
         |SELECT wi * 21600000000 AS b_us, _field, bin, n_points
         |FROM agg, mx
         |WHERE (wi + 1) * 21600000000
         |  <= epoch_us(mx - INTERVAL 30 MINUTE)
         |ORDER BY b_us, _field, bin""".stripMargin),

    // STREAMING QUANTILE — ts16's Prometheus histogram_quantile on the
    // LIVE histograms: p50 per sealed window × field, interpolated inside
    // the 16-bin distribution. Same determinism trick as ts16: the target
    // bin is chosen by the INTEGER comparison 2·cum ≥ total (no 0.5·N
    // float threshold to diverge), and the interpolation is one division
    // of exact integer-derived doubles. The stream stage is gs22's shared
    // bounded-state sink; the quantile is window arithmetic on
    // windows × fields × ≤16 rows.
    QuerySpec("gs24_stream_quantile", (s, _) => {
      val h = streamHistogram(s)
        .select(unix_micros(col("_bucket")).as("b_us"), col("_field"),
          col("bin"), col("n_points"))
      val wc = Window.partitionBy(col("b_us"), col("_field"))
        .orderBy(col("bin"))
      val wt = Window.partitionBy(col("b_us"), col("_field"))
      h.withColumn("cum", sum(col("n_points")).over(wc))
        .withColumn("total", sum(col("n_points")).over(wt))
        .filter(col("n_points") > 0 && lit(2) * col("cum") >= col("total"))
        .withColumn("rk", row_number().over(wc))
        .filter(col("rk") === 1)
        .select(col("b_us"), col("_field"), col("total").as("n_points"),
          (col("bin") * lit(8.0) + lit(8.0) *
            (col("total").cast("double") / lit(2.0)
              - (col("cum") - col("n_points")).cast("double"))
            / col("n_points").cast("double")).as("q50_est"))
        .orderBy(col("b_us"), col("_field"))
    },
      // gs22's sealed histograms → cumulative counts → the same integer
      // 2·cum ≥ total bin pick and interpolation arithmetic
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Humidity (%r.h.)', "Humidity (%r.h.)"
         |  FROM raw),
         |mx AS (SELECT MAX(_time) AS mx FROM pts),
         |agg AS (
         |  SELECT epoch_us(_time) // 21600000000 AS wi, _field,
         |    greatest(least(CAST(floor(_value / 8.0) AS BIGINT), 15), 0)
         |      AS bin,
         |    COUNT(*) AS n_points
         |  FROM pts GROUP BY wi, _field, bin),
         |sealed AS (
         |  SELECT wi, _field, bin, n_points FROM agg, mx
         |  WHERE (wi + 1) * 21600000000
         |    <= epoch_us(mx - INTERVAL 30 MINUTE)),
         |tot AS (SELECT wi, _field, SUM(n_points) AS total FROM sealed
         |        GROUP BY wi, _field),
         |c AS (
         |  SELECT s.wi, s._field, s.bin, s.n_points,
         |    SUM(s.n_points) OVER (PARTITION BY s.wi, s._field
         |      ORDER BY s.bin) AS cum,
         |    t.total
         |  FROM sealed s JOIN tot t USING (wi, _field)),
         |q AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY wi, _field
         |    ORDER BY bin) AS rk
         |  FROM c WHERE n_points > 0 AND 2 * cum >= total)
         |SELECT wi * 21600000000 AS b_us, _field,
         |  CAST(total AS BIGINT) AS n_points,
         |  bin * 8.0 + 8.0 * (CAST(total AS DOUBLE) / 2.0
         |    - CAST(cum - n_points AS DOUBLE)) / n_points AS q50_est
         |FROM q WHERE rk = 1
         |ORDER BY b_us, _field""".stripMargin),

    // LIVE DRIFT MONITOR — ts42's PSI discipline applied to the
    // STREAMED histograms: each sealed window scores against the first
    // sealed window per field (the reference distribution), so a sensor
    // whose value distribution walks away from day-one behavior raises a
    // rising PSI as the stream runs. The streaming stage is gs22's
    // bounded-state aggregate (shared sink — the stream runs once); the
    // PSI compare is batch arithmetic on windows × fields × 16 cells.
    // Same determinism kit as ts42: Laplace-smoothed integer ratios, one
    // 6-dp ln per bin, 12-dp decimal terms.
    QuerySpec("gs23_stream_ref_drift", (s, _) => {
      val h = streamHistogram(s)
        .select(unix_micros(col("_bucket")).as("b_us"), col("_field"),
          col("bin"), col("n_points"))
      val frame = h.select(col("b_us"), col("_field")).distinct()
        .crossJoin(broadcast(s.range(0, 16).toDF("bin")))
      val dense = frame.join(h, Seq("b_us", "_field", "bin"), "left")
        .withColumn("n", coalesce(col("n_points"), lit(0L)))
      val tot = dense.groupBy(col("b_us"), col("_field"))
        .agg(sum(col("n")).as("tot"))
      val cells = dense.join(tot, Seq("b_us", "_field"))
        .select(col("b_us"), col("_field"), col("bin"), col("n"), col("tot"))
      val rb = cells.groupBy(col("_field")).agg(min(col("b_us")).as("rb"))
      val ref = cells.join(rb, Seq("_field"))
        .filter(col("b_us") === col("rb"))
        .select(col("_field"), col("bin"), col("n").as("nr"),
          col("tot").as("tr"))
      cells.join(rb, Seq("_field")).filter(col("b_us") > col("rb"))
        .join(ref, Seq("_field", "bin"))
        .withColumn("p",
          (col("n") + 1).cast("double") / (col("tot") + 16).cast("double"))
        .withColumn("q",
          (col("nr") + 1).cast("double") / (col("tr") + 16).cast("double"))
        .withColumn("lnr", round(log(
          ((col("n") + 1) * (col("tr") + 16)).cast("double") /
            ((col("nr") + 1) * (col("tot") + 16)).cast("double")), 6))
        .withColumn("term",
          expr("cast(round((p - q) * lnr, 12) as decimal(28,12))"))
        .groupBy(col("b_us"), col("_field"))
        .agg(sum(col("term")).as("psi_dec"), sum(col("n")).as("n_points"))
        .select(col("b_us"), col("_field"),
          col("psi_dec").cast("double").as("psi"), col("n_points"))
        .orderBy(col("b_us"), col("_field"))
    },
      // gs22's sealed histograms → densified 16-bin cells → PSI of every
      // later window against each field's first window, with ts42's exact
      // smoothing/rounding arithmetic
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Humidity (%r.h.)', "Humidity (%r.h.)"
         |  FROM raw),
         |mx AS (SELECT MAX(_time) AS mx FROM pts),
         |agg AS (
         |  SELECT epoch_us(_time) // 21600000000 AS wi, _field,
         |    greatest(least(CAST(floor(_value / 8.0) AS BIGINT), 15), 0)
         |      AS bin,
         |    COUNT(*) AS n_points
         |  FROM pts GROUP BY wi, _field, bin),
         |sealed AS (
         |  SELECT wi, _field, bin, n_points FROM agg, mx
         |  WHERE (wi + 1) * 21600000000
         |    <= epoch_us(mx - INTERVAL 30 MINUTE)),
         |frame AS (SELECT DISTINCT wi, _field FROM sealed),
         |dense AS (
         |  SELECT f.wi, f._field, t.bin, COALESCE(s.n_points, 0) AS n
         |  FROM frame f CROSS JOIN range(0, 16) t(bin)
         |  LEFT JOIN sealed s ON s.wi = f.wi AND s._field = f._field
         |    AND s.bin = t.bin),
         |tot AS (SELECT wi, _field, SUM(n) AS tot FROM dense
         |        GROUP BY wi, _field),
         |cells AS (SELECT d.wi, d._field, d.bin, d.n, tt.tot
         |          FROM dense d JOIN tot tt USING (wi, _field)),
         |rb AS (SELECT _field, MIN(wi) AS rwi FROM cells GROUP BY _field),
         |ref AS (SELECT c._field, c.bin, c.n AS nr, c.tot AS tr
         |        FROM cells c JOIN rb ON rb._field = c._field
         |          AND c.wi = rb.rwi),
         |j AS (
         |  SELECT c.wi, c._field, c.bin, c.n, c.tot, r.nr, r.tr
         |  FROM cells c
         |  JOIN ref r ON r._field = c._field AND r.bin = c.bin
         |  JOIN rb ON rb._field = c._field
         |  WHERE c.wi > rb.rwi),
         |terms AS (
         |  SELECT wi, _field, n,
         |    CAST(ROUND(
         |      ((CAST(n + 1 AS DOUBLE) / (tot + 16))
         |        - (CAST(nr + 1 AS DOUBLE) / (tr + 16)))
         |      * ROUND(ln(CAST((n + 1) * (tr + 16) AS DOUBLE)
         |                 / ((nr + 1) * (tot + 16))), 6)
         |    , 12) AS DECIMAL(28,12)) AS term
         |  FROM j)
         |SELECT wi * 21600000000 AS b_us, _field,
         |  CAST(SUM(term) AS DOUBLE) AS psi,
         |  CAST(SUM(n) AS BIGINT) AS n_points
         |FROM terms GROUP BY wi, _field
         |ORDER BY b_us, _field""".stripMargin),

    // STREAMING SAX WORDS — ts49's symbolic pattern mining on the LIVE
    // stream: each sealed 6 h window's mean is discretized into the
    // fixed 4-letter alphabet (width-32 breakpoints, clamp 0..3 —
    // power-of-two division, exact on any IEEE engine) and 2-symbol
    // words over CONSECUTIVE sealed windows are counted per field, top-3
    // ranked — the recurring level-transition signature of the stream.
    // Word length 2 here vs ts49's 3: the 2-day fixture seals ~5 sparse
    // 6 h windows per field (gaps break words by design), so bigrams
    // are what the fixture can attest; the machinery (continuity gate,
    // rank window) is identical and ts49 holds the 3-word form at event
    // scale. Determinism: window means are cast(decimal total →
    // double)/n — one deterministic conversion + one IEEE division per
    // window (gs07's mean discipline); window ids are exact integer µs.
    // Stream stage state: 2 values per open window × field.
    QuerySpec("gs25_stream_sax_words", (s, _) => {
      val wUs = 21600000000L
      val m = streamTumblingMean(s)
        .select(unix_micros(col("_bucket")).as("b_us"), col("_field"),
          (col("total").cast("double") / col("n_points").cast("double"))
            .as("hm"))
      val w = Window.partitionBy(col("_field")).orderBy(col("b_us"))
      val sym = m
        .withColumn("sym", expr(
          "substr('abcd', cast(greatest(least(floor(hm / 32.0), 3.0), 0.0) as int) + 1, 1)"))
        .select(col("_field"), col("b_us"), col("sym"))
      val wd = sym
        .withColumn("s2", lead(col("sym"), 1).over(w))
        .withColumn("b2", lead(col("b_us"), 1).over(w))
        .filter(col("b2") === col("b_us") + wUs)
        .select(col("_field"), concat(col("sym"), col("s2")).as("word"))
      wd.groupBy(col("_field"), col("word")).agg(count(lit(1)).as("n"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("_field"))
            .orderBy(col("n").desc, col("word"))).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("_field"), col("word"), col("n"), col("rnk"))
        .orderBy(col("_field"), col("rnk"))
    },
      // 6 h sealed-window means (gs07's decimal-total/count discipline),
      // width-32 value alphabet on exact integer window ids,
      // continuity-gated bigram words, top-3 per field; COUNT is BIGINT
      // on both engines
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Humidity (%r.h.)', "Humidity (%r.h.)"
         |  FROM raw),
         |mx AS (SELECT MAX(_time) AS mx FROM pts),
         |agg AS (
         |  SELECT epoch_us(_time) // 21600000000 AS wi, _field,
         |    CAST(SUM(CAST(_value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         |      AS hm
         |  FROM pts GROUP BY wi, _field),
         |sealed AS (
         |  SELECT wi, _field, hm FROM agg, mx
         |  WHERE (wi + 1) * 21600000000
         |    <= epoch_us(mx - INTERVAL 30 MINUTE)),
         |sym AS (
         |  SELECT _field, wi,
         |    substr('abcd', CAST(GREATEST(LEAST(FLOOR(hm / 32.0), 3.0),
         |      0.0) AS INT) + 1, 1) AS s
         |  FROM sealed),
         |wd AS (
         |  SELECT _field, wi, s,
         |    LEAD(s, 1) OVER w AS s2, LEAD(wi, 1) OVER w AS w2
         |  FROM sym WINDOW w AS (PARTITION BY _field ORDER BY wi)),
         |c AS (
         |  SELECT _field, s || s2 AS word, COUNT(*) AS n
         |  FROM wd WHERE w2 = wi + 1
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT _field, word, n,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY _field
         |      ORDER BY n DESC, word) AS BIGINT) AS rnk
         |  FROM c)
         |SELECT _field, word, n, rnk FROM r WHERE rnk <= 3
         |ORDER BY _field, rnk""".stripMargin),

    // TIMER-SEALED STREAMING WINDOWS — the processor-owned emission
    // protocol (event-time timers + MapState) reproducing the built-in
    // append-mode seal: a window row exists iff its end has passed the
    // watermark (max event − 30 min), with exact micro-unit integer
    // aggregates. The oracle replays the seal rule and the aggregates
    // from the raw CSVs.
    QuerySpec("gs28_stream_timer_seal", (s, _) =>
      streamTimerSeal(s)
        .select(col("w_us"), col("_field"), col("n_points"),
          col("sum_micro"), col("min_micro"), col("max_micro"))
        .orderBy(col("w_us"), col("_field")),
      // CMS replay: same md5 seed family (hex-digit decode), same sealing
      // cutoff, probe grid 0..63, min-over-4-cells estimate, top-3
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Humidity (%r.h.)', "Humidity (%r.h.)"
         |  FROM raw),
         |mx AS (SELECT MAX(_time) AS mx FROM pts),
         |micro AS (
         |  SELECT _field,
         |    (epoch_us(_time) // 21600000000) * 21600000000 AS w_us,
         |    CAST(CAST(_value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
         |  FROM pts),
         |agg AS (
         |  SELECT w_us, _field, COUNT(*) AS n_points,
         |    CAST(SUM(m) AS BIGINT) AS sum_micro,
         |    MIN(m) AS min_micro, MAX(m) AS max_micro
         |  FROM micro GROUP BY 1, 2)
         |SELECT a.w_us, a._field, a.n_points, a.sum_micro,
         |  a.min_micro, a.max_micro
         |FROM agg a, mx
         |WHERE a.w_us + 21600000000 <= epoch_us(mx - INTERVAL 30 MINUTE)
         |ORDER BY a.w_us, a._field""".stripMargin),

    // COMPLETE-MODE GLOBAL COUNTERS — the whole-stream per-field totals
    // snapshot (no watermark, no windows: every point ever seen counts);
    // end-of-stream snapshot ≡ the batch aggregate, which the oracle
    // recomputes from the raw CSVs directly
    QuerySpec("gs30_stream_complete_totals", (s, _) =>
      streamCompleteTotals(s)
        .filter(col("_field").isin("CO (ppm)", "Humidity (%r.h.)"))
        .select(col("_field"), col("n_points"),
          col("total").cast("double").as("total"),
          unix_micros(col("latest")).as("latest_us"))
        .orderBy(col("_field")),
      // gs30 replay: the complete-mode snapshot is just the batch aggregate
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Humidity (%r.h.)', "Humidity (%r.h.)" FROM raw)
         |SELECT _field, CAST(COUNT(*) AS BIGINT) AS n_points,
         |  CAST(SUM(CAST(_value AS DECIMAL(18,6))) AS DOUBLE) AS total,
         |  MAX(epoch_us(_time)) AS latest_us
         |FROM pts GROUP BY _field ORDER BY _field""".stripMargin),

    // CHAINED STREAMING WINDOWS — the hourly→6 h rollup pyramid as ONE
    // streaming query (two stateful aggregates back to back); the read
    // side just projects the sealed outer windows for one field. No
    // division anywhere: counts + the exact decimal total (cast double
    // at the edge).
    QuerySpec("gs29_stream_two_level", (s, _) =>
      streamTwoLevel(s)
        .filter(col("_field") === "CO (ppm)")
        .select(unix_micros(col("_bucket")).as("b_us"), col("_field"),
          col("n_hours"), col("n_points"),
          col("total").cast("double").as("total"))
        .orderBy(col("b_us")),
      // replay of gs29: all points into epoch-aligned 6 h buckets (DuckDB
      // time_bucket's 2000-01-03 origin sits a whole number of 6 h periods
      // from Spark's 1970 epoch — same grid), n_hours = distinct populated
      // hours, seal rule = gs07's end ≤ max − 30 min; counts pinned BIGINT
      s"""$prelude,
         |pts AS (
         |  SELECT _time, "CO (ppm)" AS v FROM raw),
         |mx AS (SELECT MAX(_time) AS mx FROM pts),
         |b AS (
         |  SELECT time_bucket(INTERVAL '6 hours', _time) AS ws,
         |    CAST(COUNT(DISTINCT date_trunc('hour', _time)) AS BIGINT)
         |      AS n_hours,
         |    CAST(COUNT(*) AS BIGINT) AS n_points,
         |    CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total
         |  FROM pts GROUP BY ws)
         |SELECT epoch_us(ws) AS b_us, 'CO (ppm)' AS _field,
         |  n_hours, n_points, total
         |FROM b, mx
         |WHERE ws + INTERVAL 6 HOUR <= mx - INTERVAL 30 MINUTE
         |ORDER BY b_us""".stripMargin),

    // STREAMING FIRST-DIGIT PROFILE — ts66's Benford forensics as a
    // live windowed count (≤ 9 cells per window × field).
    QuerySpec("gs33_stream_digit_profile", (s, _) =>
      streamDigitProfile(s)
        .select(unix_micros(col("_bucket")).as("b_us"), col("_field"),
          col("digit"), col("n_points"))
        .orderBy(col("b_us"), col("_field"), col("digit")),
      // replay of gs33: ts66's micro/digit construct + the sealing cutoff
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Humidity (%r.h.)', "Humidity (%r.h.)" FROM raw),
         |mx AS (SELECT MAX(_time) AS mx FROM pts),
         |dig AS (
         |  SELECT epoch_us(_time) // 21600000000 AS wi, _field,
         |    CAST(substr(CAST(CAST(CAST(_value AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |  FROM pts
         |  WHERE CAST(CAST(_value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
         |    > 0),
         |agg AS (
         |  SELECT wi, _field, digit, COUNT(*) AS n_points
         |  FROM dig GROUP BY wi, _field, digit)
         |SELECT wi * 21600000000 AS b_us, _field, digit, n_points
         |FROM agg, mx
         |WHERE (wi + 1) * 21600000000
         |  <= epoch_us(mx - INTERVAL 30 MINUTE)
         |ORDER BY b_us, _field, digit""".stripMargin),

    // STREAMING SET AGGREGATION — sorted occupied-bin sets per sealed
    // window: the bounded-container collect (≤16 ids per window × field,
    // throughput-independent), sort-pinned and RENDERED TO A STRING at
    // the query edge — the pandas result comparator sorts results and
    // cannot hash container values, so only scalar columns may escape.
    QuerySpec("gs32_stream_bin_set", (s, _) =>
      streamBinSet(s)
        .select(unix_micros(col("_bucket")).as("b_us"), col("_field"),
          array_join(col("bins"), ",").as("bins"), col("n_points"))
        .orderBy(col("b_us"), col("_field")),
      // replay of gs32: distinct bins first, then the ordered list
      // aggregate (DuckDB can't combine DISTINCT with ORDER BY in one
      // list()); same gs22 binning + sealing cutoff
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Humidity (%r.h.)', "Humidity (%r.h.)" FROM raw),
         |mx AS (SELECT MAX(_time) AS mx FROM pts),
         |binned AS (
         |  SELECT epoch_us(_time) // 21600000000 AS wi, _field,
         |    greatest(least(CAST(floor(_value / 8.0) AS BIGINT), 15), 0)
         |      AS bin
         |  FROM pts),
         |nb AS (
         |  SELECT wi, _field, COUNT(*) AS n_points
         |  FROM binned GROUP BY wi, _field),
         |db AS (SELECT DISTINCT wi, _field, bin FROM binned),
         |sets AS (
         |  SELECT wi, _field,
         |    string_agg(CAST(bin AS VARCHAR), ',' ORDER BY bin) AS bins
         |  FROM db GROUP BY wi, _field)
         |SELECT s.wi * 21600000000 AS b_us, s._field, s.bins, nb.n_points
         |FROM sets s JOIN nb ON s.wi = nb.wi AND s._field = nb._field,
         |  mx
         |WHERE (s.wi + 1) * 21600000000
         |  <= epoch_us(mx - INTERVAL 30 MINUTE)
         |ORDER BY b_us, s._field""".stripMargin),

    // UNION OF TWO INDEPENDENTLY-WATERMARKED STREAMS — the multi-feed
    // ingestion shape; the semantic point is the GLOBAL watermark
    // (min across inputs): the 60 min-delayed feed gates window sealing
    // for BOTH fields, and the oracle replays exactly that LEAST() rule.
    QuerySpec("gs31_stream_union_watermarks", (s, _) =>
      streamUnion(s)
        .select(unix_micros(col("_bucket")).as("b_us"), col("_field"),
          col("n_points"), col("total_dec").cast("double").as("total"))
        .orderBy(col("b_us"), col("_field")),
      // replay of gs31: per-branch max event time minus its OWN delay,
      // sealed at the MIN of the two (Spark's multi-input global-watermark
      // rule); counts pinned BIGINT, total an exact decimal sum cast once
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Humidity (%r.h.)', "Humidity (%r.h.)" FROM raw),
         |wm AS (
         |  SELECT LEAST(
         |    (SELECT MAX(_time) FROM pts WHERE _field = 'CO (ppm)')
         |      - INTERVAL 30 MINUTE,
         |    (SELECT MAX(_time) FROM pts WHERE _field = 'Humidity (%r.h.)')
         |      - INTERVAL 60 MINUTE) AS cut),
         |agg AS (
         |  SELECT epoch_us(_time) // 21600000000 AS wi, _field,
         |    COUNT(*) AS n_points,
         |    SUM(CAST(_value AS DECIMAL(18,6))) AS total_dec
         |  FROM pts GROUP BY wi, _field)
         |SELECT wi * 21600000000 AS b_us, _field,
         |  CAST(n_points AS BIGINT) AS n_points,
         |  CAST(total_dec AS DOUBLE) AS total
         |FROM agg, wm
         |WHERE (wi + 1) * 21600000000 <= epoch_us(cut)
         |ORDER BY b_us, _field""".stripMargin),

    // STREAMING KMV DISTINCT ESTIMATE — the live bottom-16 sketch read
    // batch-side (max-n_seen snapshot = end-of-stream merge, micro-batch
    // invariant), its (k−1)·2⁴⁸/h₍ₖ₎ estimate checked against the EXACT
    // per-window distinct count from the batch store: err_ppm is the
    // measured estimator error, computed on both engines, not assumed.
    // All arithmetic after the sink is integer (hex→int via conv, one
    // positive div) — hash-exact by construction.
    QuerySpec("gs27_stream_kmv_distinct", (s, _) => {
      val wLast = Window.partitionBy(col("_field"), col("w_us"))
        .orderBy(col("n_seen").desc)
      val last = streamKmv(s)
        .withColumn("rn", row_number().over(wLast))
        .filter(col("rn") === 1)
        .withColumn("k_used", size(col("hashes")).cast("long"))
        .withColumn("h16", expr(
          "cast(conv(substr(element_at(hashes, 16), 1, 12), 16, 10) as bigint)"))
        .withColumn("n_est", when(col("k_used") === 16,
          expr("(15L * 281474976710656L) div h16")).otherwise(col("k_used")))
      val exact = store(s)
        .filter(col("_field").isin("CO (ppm)", "Humidity (%r.h.)"))
        .withColumn("us", unix_micros(col("_time")))
        .withColumn("w_us",
          expr("(us div 21600000000L) * 21600000000L"))
        .withColumn("iv", greatest(least(
          floor(col("_value") * 8.0).cast("long"), lit(511L)), lit(0L)))
        .groupBy(col("_field"), col("w_us"))
        .agg(countDistinct(col("iv")).cast("long").as("n_exact"))
      last.join(exact, Seq("_field", "w_us"))
        .withColumn("err_ppm",
          expr("(abs(n_est - n_exact) * 1000000) div n_exact"))
        .select(col("w_us"), col("_field"), col("n_seen"), col("k_used"),
          col("n_est"), col("n_exact"), col("err_ppm"))
        .orderBy(col("w_us"), col("_field"))
    },
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Humidity (%r.h.)', "Humidity (%r.h.)"
         |  FROM raw),
         |ivs AS (
         |  SELECT _field,
         |    (epoch_us(_time) // 21600000000) * 21600000000 AS w_us,
         |    GREATEST(LEAST(CAST(FLOOR(_value * 8.0) AS BIGINT), 511), 0)
         |      AS iv
         |  FROM pts),
         |counts AS (
         |  SELECT _field, w_us, COUNT(*) AS n_seen,
         |    COUNT(DISTINCT iv) AS n_exact
         |  FROM ivs GROUP BY 1, 2),
         |dh AS (
         |  SELECT DISTINCT _field, w_us, md5(iv::VARCHAR) AS h FROM ivs),
         |rk AS (
         |  SELECT _field, w_us, h,
         |    ROW_NUMBER() OVER (PARTITION BY _field, w_us ORDER BY h) AS rn
         |  FROM dh),
         |sk AS (
         |  SELECT _field, w_us, COUNT(*) AS k_used,
         |    MAX(CASE WHEN rn = 16 THEN h END) AS h16
         |  FROM rk WHERE rn <= 16 GROUP BY 1, 2),
         |est AS (
         |  SELECT _field, w_us, k_used,
         |    CASE WHEN k_used = 16 THEN
         |      (15::BIGINT * 281474976710656::BIGINT) //
         |        list_sum(list_transform(range(0, 12), j ->
         |          (strpos('0123456789abcdef',
         |             substr(h16, CAST(j + 1 AS INT), 1)) - 1)::BIGINT
         |          * (1::BIGINT << CAST(4 * (11 - j) AS INT))))
         |    ELSE k_used END AS n_est
         |  FROM sk)
         |SELECT c.w_us, c._field, CAST(c.n_seen AS BIGINT) AS n_seen,
         |  CAST(e.k_used AS BIGINT) AS k_used,
         |  CAST(e.n_est AS BIGINT) AS n_est,
         |  CAST(c.n_exact AS BIGINT) AS n_exact,
         |  CAST((abs(e.n_est - c.n_exact) * 1000000) // c.n_exact AS BIGINT)
         |    AS err_ppm
         |FROM counts c JOIN est e
         |  ON e._field = c._field AND e.w_us = c.w_us
         |ORDER BY c.w_us, c._field""".stripMargin),

    // STREAMING CMS HEAVY HITTERS — the live sketch queried batch-side:
    // a fixed probe grid (integer values 0..63, the clamped domain) is
    // hashed with the sink's own seed family and each probe's estimate is
    // the MIN over its 4 cells (the count-min read); top-3 probes per
    // sealed window × field. Everything after the sink is bounded
    // arithmetic on windows × fields × 64 probes × 4 cells.
    QuerySpec("gs26_stream_cms", (s, _) => {
      val cells = streamCms(s)
        .select(unix_micros(col("_bucket")).as("b_us"), col("_field"),
          col("seed"), col("bucket"), col("cnt"))
      val probes = s.range(0, 64).toDF("iv")
        .select(col("iv"), explode(expr(
          "transform(sequence(0, 3), j -> named_struct('seed', j, " +
            "'bucket', cast(conv(substr(md5(cast(concat(cast(j as string), " +
            "':', cast(iv as string)) as binary)), 1, 2), 16, 10) as int)))"))
          .as("c"))
        .select(col("iv"), col("c.seed").as("seed"), col("c.bucket").as("bucket"))
      val grid = cells.select(col("b_us"), col("_field")).distinct()
        .crossJoin(broadcast(probes))
      grid.join(cells, Seq("b_us", "_field", "seed", "bucket"), "left")
        .withColumn("c", coalesce(col("cnt"), lit(0L)))
        .groupBy(col("b_us"), col("_field"), col("iv"))
        .agg(min(col("c")).as("est"))
        .filter(col("est") > 0)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("b_us"), col("_field"))
            .orderBy(col("est").desc, col("iv"))).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("b_us"), col("_field"), col("rk"), col("iv"), col("est"))
        .orderBy(col("b_us"), col("_field"), col("rk"))
    },
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Humidity (%r.h.)', "Humidity (%r.h.)"
         |  FROM raw),
         |mx AS (SELECT MAX(_time) AS mx FROM pts),
         |ivs AS (
         |  SELECT epoch_us(_time) // 21600000000 AS wi, _field,
         |    GREATEST(LEAST(CAST(FLOOR(_value) AS BIGINT), 63), 0) AS iv
         |  FROM pts),
         |cells AS (
         |  SELECT wi, _field, j AS seed,
         |    16 * (strpos('0123456789abcdef',
         |        substr(md5(j::VARCHAR || ':' || iv::VARCHAR), 1, 1)) - 1)
         |      + (strpos('0123456789abcdef',
         |        substr(md5(j::VARCHAR || ':' || iv::VARCHAR), 2, 1)) - 1)
         |      AS bucket,
         |    COUNT(*) AS cnt
         |  FROM ivs, range(0, 4) t(j)
         |  GROUP BY wi, _field, seed, bucket),
         |sealed AS (
         |  SELECT c.wi, c._field, c.seed, c.bucket, c.cnt FROM cells c, mx
         |  WHERE (wi + 1) * 21600000000
         |    <= epoch_us(mx - INTERVAL 30 MINUTE)),
         |wf AS (SELECT DISTINCT wi, _field FROM sealed),
         |probes AS (
         |  SELECT p.iv, j AS seed,
         |    16 * (strpos('0123456789abcdef',
         |        substr(md5(j::VARCHAR || ':' || p.iv::VARCHAR), 1, 1)) - 1)
         |      + (strpos('0123456789abcdef',
         |        substr(md5(j::VARCHAR || ':' || p.iv::VARCHAR), 2, 1)) - 1)
         |      AS bucket
         |  FROM range(0, 64) p(iv), range(0, 4) t(j)),
         |est AS (
         |  SELECT wf.wi, wf._field, pr.iv,
         |    CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est
         |  FROM wf CROSS JOIN probes pr
         |  LEFT JOIN sealed s ON s.wi = wf.wi AND s._field = wf._field
         |    AND s.seed = pr.seed AND s.bucket = pr.bucket
         |  GROUP BY wf.wi, wf._field, pr.iv
         |  HAVING MIN(COALESCE(s.cnt, 0)) > 0),
         |r AS (
         |  SELECT wi, _field, iv, est,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY wi, _field
         |      ORDER BY est DESC, iv) AS BIGINT) AS rk
         |  FROM est)
         |SELECT wi * 21600000000 AS b_us, _field, rk, iv, est
         |FROM r WHERE rk <= 3 ORDER BY b_us, _field, rk""".stripMargin),

    // streaming candlestick bars (ts29's twin): watermark-sealed hourly
    // OHLC per field, open/close by event-time min_by/max_by
    QuerySpec("gs21_stream_ohlc", (s, _) =>
      streamOhlc(s)
        .select(unix_micros(col("_bucket")).as("b_us"), col("_field"),
          col("open"), col("high"), col("low"), col("close"),
          col("n_points"))
        .orderBy(col("b_us"), col("_field")),
      s"""$prelude,
         |pts AS (
         |  SELECT _time, 'CO (ppm)' AS _field, "CO (ppm)" AS _value,
         |    date_trunc('hour', _time) AS ws
         |  FROM raw
         |  UNION ALL
         |  SELECT _time, 'Temperature (C)', "Temperature (C)",
         |    date_trunc('hour', _time)
         |  FROM raw),
         |mx AS (SELECT MAX(_time) AS mx FROM pts),
         |agg AS (
         |  SELECT ws, _field,
         |    first(_value ORDER BY _time) AS open,
         |    MAX(_value) AS high,
         |    MIN(_value) AS low,
         |    last(_value ORDER BY _time) AS close,
         |    COUNT(*) AS n_points
         |  FROM pts GROUP BY ws, _field)
         |SELECT epoch_us(ws) AS b_us, _field, open, high, low, close,
         |  n_points
         |FROM agg, mx
         |WHERE ws + INTERVAL 1 HOUR <= mx - INTERVAL 30 MINUTE
         |ORDER BY b_us, _field""".stripMargin),

    // U2 through the store: pivot the long model back to wide (Grafana
    // table view). The oracle is the RAW CSV rows themselves — matching
    // proves CSV → unpivot → partitioned store → pivot is lossless.
    QuerySpec("gs04_pivot_wide", (s, _) => {
      import graft.store.LongStore
      LongStore.pivot(store(s))
        .select(unix_micros(col("_time")).as("t_us"),
          col("`CO (ppm)`").as("co"),
          col("`Humidity (%r.h.)`").as("humidity"),
          col("`R1 (MOhm)`").as("r1"),
          col("`R14 (MOhm)`").as("r14"))
        .orderBy(col("t_us"))
    },
      s"""$prelude
         |SELECT epoch_us(_time) AS t_us,
         |  "CO (ppm)" AS co, "Humidity (%r.h.)" AS humidity,
         |  "R1 (MOhm)" AS r1, "R14 (MOhm)" AS r14
         |FROM raw ORDER BY t_us""".stripMargin)
  )
}
