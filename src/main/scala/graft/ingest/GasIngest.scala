package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.GasSchema
import graft.store.LongStore

/** Ingest stage: file discovery + per-file idempotency (SURVEY.md §2.1, §2.3).
  *
  * The reference discovers `*.csv` via a directory glob (ETL.py:13-19) and
  * keeps an exactly-once ledger in Postgres, probed one file at a time
  * (`SELECT COUNT(*) ... WHERE file_name = %s`, ETL.py:37-50) BEFORE any
  * data is touched. Here the probe is a set difference over names on the
  * driver ([[discover]]): one directory listing minus the ledger's
  * `file_name` column, O(#files) short strings — the same order as the
  * listing Spark's own file index already holds on the driver for any
  * directory read. Only the unseen files are then read ([[readFiles]]), so
  * a tick costs its new files, not the history, and a tick with nothing new
  * reads no data at all — the file-source model of Structured Streaming
  * (list, subtract the log of seen files, read the rest).
  */
object GasIngest {

  /** A day file of one listing: `name` is the key the ledger and the
    * store's `_src` record — the last path segment in the URL-encoded form
    * `input_file_name()` yields (`%20` for a space, `%5B` for `[`), so a
    * listed name and a name read back from the data always agree. */
  final case class DayFile(name: String, path: Path, bytes: Long)

  /** S1: the `*.csv` files directly under `dir` (no recursion), skipping
    * `_`- and `.`-prefixed names as Spark's file index does, sorted by name.
    * One FS metadata listing, no data read. */
  def listDayFiles(spark: SparkSession, dir: String): Seq[DayFile] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".csv") && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(st => DayFile(SparkPath.fromFileStatus(st).urlEncoded.split('/').last,
        st.getPath, st.getLen))
      .sortBy(_.name)
  }

  /** S2: read exactly `files` with the pinned 20-double schema.
    * `input_file_name()` is retained so downstream stages can derive the
    * measurement date from the filename exactly like the reference
    * (transform.py:17-19). Glob metacharacters in the paths are escaped:
    * the reader globs every path it is given, and a file named `x[1].csv`
    * would otherwise match nothing. */
  def readFiles(spark: SparkSession, files: Seq[DayFile]): DataFrame =
    spark.read
      .schema(GasSchema.gasSchema)
      .option("header", "true")
      .csv(files.map(f => escapeGlob(f.path.toString)): _*)
      .withColumn("file_name",
        element_at(split(input_file_name(), "/"), -1))

  private def escapeGlob(path: String): String =
    path.flatMap(c => if ("\\*?[]{}".contains(c)) s"\\$c" else c.toString)

  /** Ledger read: empty frame when no ledger exists yet (first run). The
    * declared [[GasSchema.ledgerSchema]] spares the schema-inference job.
    * The existence probe resolves the path's OWN filesystem (s3://, hdfs://,
    * file:// ...), not the configured default FS — probing the wrong FS
    * would treat an existing ledger as absent and defeat idempotency. */
  def readLedger(spark: SparkSession, ledgerPath: String): DataFrame = {
    val p = new Path(ledgerPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      spark.read.schema(GasSchema.ledgerSchema).parquet(ledgerPath)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        GasSchema.ledgerSchema)
  }

  /** J1: the day files of `dir` the ledger has not seen, sorted by name.
    * The one job reads the ledger's `file_name` column, one short row per
    * loaded file. */
  def discover(spark: SparkSession, dir: String,
      ledgerPath: String): Seq[DayFile] = {
    val seen = readLedger(spark, ledgerPath).select("file_name")
      .collect().map(_.getString(0)).toSet
    listDayFiles(spark, dir).filterNot(f => seen(f.name))
  }

  /** Ledger append for the files just loaded — written AFTER a successful
    * load so a crash between load and append re-processes (idempotent
    * overwrite-by-day partitions make that safe; SURVEY.md §7.4).
    *
    * `names` are the batch's discovered file names, so, like the
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
