package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.GasSchema
import graft.store.LongStore

/** Ingest stage: file discovery + per-file idempotency (SURVEY.md §2.1, §2.3).
  *
  * The reference discovers `*.csv` via a directory glob (ETL.py:13-19) and
  * keeps an exactly-once ledger in Postgres, probed one file at a time
  * (`SELECT COUNT(*) ... WHERE file_name = %s`, ETL.py:37-50). That
  * row-at-a-time probe is a left-anti join in disguise — here it IS a
  * left-anti join, one distributed plan instead of N round-trips, which is
  * the shape that survives a million-file catalog: both sides shuffle (or
  * broadcast, for a small ledger) on `file_name` once.
  */
object GasIngest {

  /** S1+S2: glob-scan the day-file CSVs with the pinned 20-double schema.
    * `input_file_name()` is retained so downstream stages can derive the
    * measurement date from the filename exactly like the reference
    * (transform.py:17-19). */
  def readDayFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .schema(GasSchema.gasSchema)
      .option("header", "true")
      .option("pathGlobFilter", "*.csv")
      .csv(dir)
      .withColumn("file_name",
        element_at(split(input_file_name(), "/"), -1))

  /** Ledger read: empty frame when no ledger exists yet (first run).
    * The existence probe resolves the path's OWN filesystem (s3://, hdfs://,
    * file:// ...), not the configured default FS — probing the wrong FS
    * would treat an existing ledger as absent and defeat idempotency. */
  def readLedger(spark: SparkSession, ledgerPath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(ledgerPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      spark.read.parquet(ledgerPath)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        GasSchema.ledgerSchema)
  }

  /** J1: keep only rows from files not yet in the ledger. The ledger side is
    * broadcast — it's tiny relative to the data (one row per file). */
  def unseenOnly(data: DataFrame, ledger: DataFrame): DataFrame =
    data.join(broadcast(ledger.select("file_name")), Seq("file_name"), "left_anti")

  /** Ledger append for the files just loaded — written AFTER a successful
    * load so a crash between load and append re-processes (idempotent
    * overwrite-by-day partitions make that safe; SURVEY.md §7.4).
    *
    * `names` are the batch's already-collected file names, so, like the
    * partition manifest, the append costs zero data reads. It goes through
    * the store's side-table protocol
    * ([[graft.store.LongStore.appendSideTable]]): one file per batch,
    * folded past 16 part files, so the scheduler-tick ledger read stays
    * bounded however many batches have run. */
  def appendToLedger(spark: SparkSession, names: Seq[String],
      ledgerPath: String): Unit = {
    import spark.implicits._
    LongStore.appendSideTable(
      names.toDF("file_name").withColumn("processed_at", current_timestamp()),
      ledgerPath, dedup = false)
  }
}
