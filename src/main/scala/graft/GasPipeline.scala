package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.GasIngest
import graft.store.LongStore
import graft.transform.GasTransform
import graft.util.Sessions

/** The whole reference ETL (Airflow DAG → Dask → parquet → InfluxDB,
  * SURVEY.md §3.1) collapsed into one Spark job:
  *
  *   list CSVs minus ledger → 24 h filter + timestamp synthesis →
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
    * Discovery is ledger-first ([[GasIngest.discover]]): the batch is the
    * directory listing minus the ledger's names, so a run with nothing new
    * returns before any CSV is read, and otherwise reads exactly its unseen
    * files, once, inside the store write. Header-only files are part of the
    * batch and get ledgered like any other, so no tick re-reads them.
    *
    * The batch commits through [[LongStore.commitBatch]] before the ledger
    * mark. `snapshot = true` selects the generation commit log
    * ([[LongStore.writeSnapshot]]) instead of dynamic partition overwrite
    * + `_manifest`: same rows, same idempotent replay, but re-ingesting a
    * day never mutates committed files, so a reader covering that day
    * ([[LongStore.readCommitted]]) gets true snapshot isolation — the
    * contract the plain layout only gives disjoint windows
    * (ConcurrentIngestSpec). */
  def runBatch(spark: SparkSession, inputDir: String, storePath: String,
      ledgerPath: String, snapshot: Boolean = false): DataFrame = {
    val batch = GasIngest.discover(spark, inputDir, ledgerPath)
    val names = batch.map(_.name)
    if (batch.nonEmpty) {
      val long = GasTransform.toLong(GasIngest.readFiles(spark, batch))
      // Writer parallelism scaled to this batch's largest file (the
      // round-11 single-writer funnel finding — see LongStore.writersFor).
      LongStore.commitBatch(long, storePath, names,
        LongStore.writersFor(batch.map(_.bytes).max), snapshot)
      GasIngest.appendToLedger(spark, names, ledgerPath)
    }
    import spark.implicits._
    names.toDF("file_name")
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
    * arguments is a no-op (discovery skips everything the ledger holds,
    * without reading any data — the reference's "skip" branch). Exit code
    * 0 either way; the processed-file count goes to stdout. */
  def main(args: Array[String]): Unit =
    Sessions.run(Sessions.pipeline(Sessions.cpus(4)))(spark =>
      println(cli(spark, args)))
}
