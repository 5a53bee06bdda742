package graft.transform

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.schema.GasSchema
import graft.store.LongStore

/** Transform stage: the reference's per-file dataflow (transform.py:11-49),
  * re-expressed as one Catalyst plan (SURVEY.md §2.2).
  *
  * Reference semantics preserved:
  *  - 24 h truncation keeps the boundary row: `Time (s) <= 86400`, not `<`
  *    (transform.py:22; SURVEY.md §1.4 — the reference's malformed
  *    "1 day, 0:00:00" string artifact disappears because we use real
  *    timestamp arithmetic, but the row count matches).
  *  - The measurement date comes from the `yyyymmdd` prefix of the FILENAME;
  *    the `HHMMSS` part is deliberately ignored, so each day starts at
  *    00:00:00 (transform.py:17-19, README.md:157-160).
  *  - Sub-second resolution survives: fractional seconds map to microseconds
  *    (3.5 Hz sampling ⇒ fractional `Time (s)`, README.md:46).
  *  - All 19 sensor columns are doubles via the pinned read schema — the
  *    explicit astype (transform.py:40-46) is subsumed.
  *
  * The whole stage is narrow (filter + per-row expressions): no shuffle, so
  * it scales embarrassingly with input splits.
  */
object GasTransform {

  private val timeC = col(s"`${GasSchema.timeCol}`")

  /** P1: 24 h truncation filter (transform.py:21-23). */
  def truncate24h(df: DataFrame): DataFrame =
    df.filter(timeC <= 86400.0)

  /** P2-P4+P7-P8 fused: filename `yyyymmdd` + seconds-of-day → one real
    * timestamp expression — no string round-trips (SURVEY.md §2.2).
    *
    * `_date` is the SOURCE day (from the filename), kept as the store's
    * partition key. It is deliberately not `to_date(_time)`: the kept
    * `<= 86400` boundary row has `_time` = next midnight, and partitioning
    * by event-day would put it in the next day's partition — which a later
    * idempotent overwrite of that next day would silently clobber.
    * Partitioning by source day keeps partition = day-file, so per-partition
    * overwrite is exactly per-file re-processing. */
  def synthesizeTimestamp(df: DataFrame): DataFrame =
    df.withColumn("_date",
        to_date(regexp_extract(col("file_name"), "\\d{8}", 0), "yyyyMMdd"))
      .withColumn("_time",
        timestamp_micros(
          unix_micros(col("_date").cast("timestamp")) +
            (timeC * 1000000L).cast("long")))

  /** Full transform: filter then timestamp synthesis (the reference's manual
    * "filter first" ordering is what Catalyst pushdown automates anyway). */
  def apply(df: DataFrame): DataFrame =
    synthesizeTimestamp(truncate24h(df))

  /** Day rows → long points: the transform, then the unpivot with the
    * source file riding along as `_src` (the store's overwrite unit). The
    * one wide→long step the batch pipeline, the streaming twin and the
    * streaming queries share. */
  def toLong(dayRows: DataFrame): DataFrame =
    LongStore.unpivot(apply(dayRows).withColumnRenamed("file_name", "_src"))
}
