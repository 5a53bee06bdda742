package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.GasIngest
import graft.store.LongStore
import graft.transform.GasTransform

/** The whole reference ETL (Airflow DAG → Dask → parquet → InfluxDB,
  * SURVEY.md §3.1) collapsed into one Spark job:
  *
  *   discover CSVs → anti-join ledger → 24 h filter + timestamp synthesis →
  *   unpivot → date-partitioned parquet store + side-table commit → ledger append.
  *
  * Ordering gives at-least-once with idempotent loads (= exactly-once
  * observable state): the store write is an idempotent per-day-partition
  * overwrite, and the ledger is appended only after a successful write, so
  * a crash in between merely re-processes the same files into the same
  * partitions (SURVEY.md §7.4). The streaming variant in graft.streaming
  * gets the ledger for free from the checkpoint.
  */
object GasPipeline {

  /** One batch run (the equivalent of one manual DAG trigger). Returns the
    * frame of newly processed file names (empty ⇒ nothing new, the
    * reference's "skip" branch, ETL.py:96-98).
    *
    * The anti-joined survivors are persisted so the whole batch reads the
    * input CSVs exactly once: without the cache, the file-name probe and
    * the store write would each re-scan the day's input. The file names
    * are collected once from the cache (one short row per new file); the
    * store's side tables and the ledger are derived from them, and the
    * returned local frame never re-triggers the scan either.
    *
    * The batch commits through [[LongStore.commitBatch]] before the ledger
    * mark. `snapshot = true` selects the generation commit log
    * ([[LongStore.writeSnapshot]]) instead of dynamic partition overwrite
    * + `_manifest`: same rows, same idempotent replay, but re-ingesting a
    * day never mutates committed files, so a reader covering that day
    * ([[LongStore.readCommitted]]) gets true snapshot isolation — the
    * contract the plain layout only gives disjoint windows (IngestStress). */
  def runBatch(spark: SparkSession, inputDir: String, storePath: String,
      ledgerPath: String, snapshot: Boolean = false): DataFrame = {
    val raw = GasIngest.readDayFiles(spark, inputDir)
    val ledger = GasIngest.readLedger(spark, ledgerPath)
    val fresh = GasIngest.unseenOnly(raw, ledger).persist()
    try {
      val names = fresh.select("file_name").distinct()
        .collect().map(_.getString(0)).sorted.toIndexedSeq
      if (names.nonEmpty) {
        val long = GasTransform.toLong(fresh)
        // Writer parallelism scaled to the day-file size (the round-11
        // single-writer funnel finding — see LongStore.writersFor).
        LongStore.commitBatch(long, storePath, names,
          LongStore.writersFor(spark, inputDir), snapshot)
        GasIngest.appendToLedger(spark, names, ledgerPath)
      }
      import spark.implicits._
      names.toDF("file_name")
    } finally fresh.unpersist()
  }

  /** Testable core of [[main]]: argument handling + one batch run, on a
    * caller-owned session. The underscore-prefixed default ledger dir is
    * deliberate: parquet readers treat `_`-prefixed paths as hidden, so a
    * ledger living inside the store never pollutes a store scan. Returns
    * the one-line human summary [[main]] prints. */
  def cli(spark: SparkSession, args: Array[String]): String = {
    require(args.length >= 2,
      "usage: graft.GasPipeline <inputDir> <storeDir> [ledgerDir]")
    val (inputDir, storeDir) = (args(0), args(1))
    val ledgerDir = if (args.length > 2) args(2) else s"$storeDir/_ledger"
    val processed = runBatch(spark, inputDir, storeDir, ledgerDir)
    val names = processed.collect().map(_.getString(0))
    s"[gas-pipeline] processed ${names.length} new file(s)" +
      (if (names.isEmpty) " — store is up to date"
       else names.mkString(": ", ", ", ""))
  }

  /** CLI twin of the reference DAG trigger — the whole 7-step Airflow DAG
    * as one command a user runs end-to-end:
    *
    * {{{
    * sbt "runMain graft.GasPipeline <inputDir> <storeDir> [ledgerDir]"
    * }}}
    *
    * `ledgerDir` defaults to `<storeDir>/_ledger`. Re-running with the same
    * arguments is a no-op (the ledger anti-join skips everything already
    * loaded — the reference's "skip" branch). Exit code 0 either way;
    * the processed-file count goes to stdout. */
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(cli(spark, args))
    finally spark.stop()
  }
}
