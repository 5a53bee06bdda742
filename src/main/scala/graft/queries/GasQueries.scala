package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Flux-equivalent query surface over the long gas store (SURVEY.md §2.11).
  * These are the library-facing forms; the oracle-checked twins over the
  * driver's `events` table live in [[TimeSeries]].
  */
object GasQueries {

  /** Q1/Q2: `filter(fn: (r) => r["_field"] == <field>)` — `field` is the
    * runtime parameter the Grafana dashboard variable interpolates
    * (reference README.md:226, README.md:243). Pushed into the parquet scan. */
  def fieldFilter(long: DataFrame, field: String): DataFrame =
    long.filter(col("_field") === field)

  /** Q3: `range(start, stop)` — on the date-partitioned store this prunes
    * partitions (reference README.md:222-224).
    *
    * A predicate on `_time` alone cannot prune `_date` partitions (Spark
    * would still list and open every day); the store invariant
    * `_time ∈ [_date, _date + 24 h]` (GasTransform: seconds-of-day 0..86400
    * added to the source day) implies `_date ∈ [date(start) - 1, date(stop)]`,
    * so that derived range is added as an explicit partition predicate —
    * at 100 TB the scan touches only the bordering days, not the catalog
    * (ManifestSpec's prune gate counts the partitions a scan reads). */
  def timeRange(long: DataFrame, startIso: String, stopIso: String): DataFrame = {
    val start = lit(startIso).cast("timestamp")
    val stop = lit(stopIso).cast("timestamp")
    val pruned =
      if (long.columns.contains("_date"))
        long.filter(col("_date") >= date_sub(to_date(start), 1) &&
          col("_date") <= to_date(stop))
      else long
    pruned.filter(col("_time") >= start && col("_time") < stop)
  }

  /** Q4: `aggregateWindow(every: interval, fn: mean)` (implied by the
    * Grafana dashboards, reference README.md:249-251).
    *
    * The mean is an exact decimal sum divided by the count ([[avgExact]]):
    * summing raw doubles is partitioning-order-dependent, so a plain `avg`
    * would make results vary run-to-run at scale. Sensor readings carry
    * ≤ 4 fractional digits, well inside DECIMAL(18,6). */
  def aggregateWindow(long: DataFrame, every: String): DataFrame =
    long.groupBy(window(col("_time"), every).as("w"), col("_field"))
      .agg(avgExact(col("_value")).as("mean_value"),
        min(col("_value")).as("min_value"),
        max(col("_value")).as("max_value"),
        count(lit(1)).as("n_points"))
      .select(col("w.start").as("_bucket"), col("_field"),
        col("mean_value"), col("min_value"), col("max_value"), col("n_points"))

  /** The flagship end-to-end slice (SURVEY.md §7.2 step 1):
    * mean of one field per bucket for one day.
    *
    * Routed through [[timeRange]] so the day filter carries the DERIVED
    * `_date` partition predicate, not just the `_time` one — the r15
    * concurrent-ingest rung (now ConcurrentIngestSpec) caught the
    * original `_time`-only form scanning EVERY day partition (at 4,096
    * days the flagship slice read the whole calendar; under concurrent
    * tail-day ingest the unpruned scan also raced the overwrite into
    * FileNotFound). Identical rows by the store invariant
    * `_time ∈ [_date, _date + 24 h]`. */
  def fieldDayMean(long: DataFrame, field: String, dayIso: String,
      every: String = "1 minute"): DataFrame = {
    val nextDay = java.time.LocalDate.parse(dayIso).plusDays(1)
    aggregateWindow(
      fieldFilter(
        timeRange(long, s"$dayIso 00:00:00", s"$nextDay 00:00:00"), field),
      every)
  }
}
