package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.store.LongStore

/** PARTITION MANIFEST AT CADENCE (round-14 verdict item 1): the reference
  * ingests ONE batch per day, so `appendManifest`'s one-tiny-file-per-batch
  * append would regrow an O(N-batches) cold listing inside the very index
  * that exists to remove it. This spec pins the compaction answer at the
  * real cadence — N single-day `runBatch` calls — plus the two ADVICE
  * robustness holes: phantom entries (a manifest row whose partition was
  * never written) and replay duplicates (the crash-replay contract). The
  * cadence and phantom cases run for both store layouts: plain
  * (`_manifest`, [[LongStore.readWindow]]) and snapshot (`_commits`,
  * [[LongStore.readCommitted]]).
  */
class ManifestSpec extends SparkSpec {

  /** Minimal day file in the reference envelope: the pinned 20-column
    * header, `rows` samples at 1 s spacing from `t0` seconds, values
    * derived from the day index so every day's data is distinct. */
  private def writeDayFile(dir: Path, day: java.time.LocalDate, rows: Int,
      seed: Int, suffix: String = "210000", t0: Int = 0): String = {
    val header = "Time (s),CO (ppm),Humidity (%r.h.),Temperature (C)," +
      "Flow rate (mL/min),Heater voltage (V)," +
      (1 to 14).map(i => s"R$i (MOhm)").mkString(",")
    val name = day.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE) +
      s"_$suffix.csv"
    val body = (0 until rows).map { r =>
      (Seq((t0 + r).toDouble) ++ (1 to 19).map(c => (seed * 100 + r * 10 + c) / 7.0))
        .map(v => f"$v%.4f").mkString(",")
    }.mkString("\n")
    Files.write(dir.resolve(name), s"$header\n$body\n".getBytes("UTF-8"))
    name
  }

  /** The layout's reader: `_manifest` plans a plain store, the `_commits`
    * log a snapshot store. */
  private def readLayout(store: String, snapshot: Boolean, start: String,
      stop: String) =
    if (snapshot) LongStore.readCommitted(spark, store, start, stop)
    else LongStore.readWindow(spark, store, start, stop)

  private def partFiles(dir: String): Int =
    new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))

  private def points(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("_time", "_field", "_value").collect().map(_.toString).toSeq.sorted

  /** N single-day batches at the reference's cadence, in either layout. */
  private def perDayCadence(snapshot: Boolean): Unit = {
    val work = Files.createTempDirectory("graft-manifest-cadence")
    val input = Files.createDirectory(work.resolve("input"))
    val store = work.resolve("store").toString
    val ledger = work.resolve("ledger").toString
    val nDays = 40
    val start = java.time.LocalDate.of(2016, 10, 7)

    // one batch per day — the reference's actual ingest cadence; the
    // ledger anti-join scopes each batch to the day just dropped
    (0 until nDays).foreach { d =>
      writeDayFile(input, start.plusDays(d.toLong), rows = 3, seed = d)
      val processed = GasPipeline.runBatch(spark, input.toString, store, ledger,
        snapshot)
      assert(processed.count() == 1, s"batch $d should process exactly its day")
    }

    // compaction bound: one append per batch, folded past the threshold —
    // the at-rest file count is <= threshold + 1, never O(N-batches)
    val log = if (snapshot) "_commits" else "_manifest"
    val logParts = partFiles(s"$store/$log")
    assert(logParts <= 17,
      s"$log grew to $logParts files over $nDays per-day batches")

    // the ledger has the identical cadence hole and the identical fold:
    // its per-tick read must stay bounded however many batches have run
    val ledgerParts = partFiles(ledger)
    assert(ledgerParts <= 17,
      s"ledger grew to $ledgerParts files over $nDays per-day batches")

    val end = start.plusDays(nDays.toLong).toString
    if (snapshot) {
      // re-ingest day 5 with new values as a later generation: the log
      // must resolve every partition to its LATEST generation only
      val redo = Files.createDirectory(work.resolve("redo"))
      writeDayFile(redo, start.plusDays(5L), rows = 3, seed = 99)
      GasPipeline.runBatch(spark, redo.toString, store,
        work.resolve("ledger2").toString, snapshot = true)
      import org.apache.spark.sql.expressions.Window
      val latest = spark.read.parquet(store)
        .withColumn("top", max(col("g")).over(Window.partitionBy("_date", "_src")))
        .filter(col("g") === col("top"))
      val got = points(readLayout(store, snapshot, start.toString, end))
      assert(got == points(latest),
        "log-planned read diverged from the latest generations")
      assert(got.size == nDays * 3 * 19, "superseded generation leaked into the read")
    } else {
      // the manifest still covers every batch: a full-range readWindow must
      // equal the full-listing store read row-for-row
      val full = spark.read.parquet(store)
        .select("_time", "_field", "_value").collect().toSet
      val win = readLayout(store, snapshot, start.toString, end)
        .select("_time", "_field", "_value").collect().toSet
      assert(win == full, "manifest-planned read diverged from full listing")
    }

    // and an interior 2-day window resolves only its own days
    val sub = readLayout(store, snapshot,
        start.plusDays(10L).toString, start.plusDays(11L).toString)
    assert(sub.select("_date").distinct().count() == 2)
  }

  test("per-day cadence: N single-day batches keep the manifest small and readWindow exact") {
    perDayCadence(snapshot = false)
  }

  test("per-day cadence, snapshot layout: N single-day batches keep _commits small and readCommitted on the latest generations") {
    perDayCadence(snapshot = true)
  }

  /** A source file that contributes zero store rows (every sample past the
    * 24 h cut) is loaded by a real batch: the batch records a side-table
    * entry for it but writes no partition directory. */
  private def phantomEntry(snapshot: Boolean): Unit = {
    val work = Files.createTempDirectory("graft-manifest-phantom")
    val input = Files.createDirectory(work.resolve("input"))
    val store = work.resolve("store").toString
    val ledger = work.resolve("l").toString
    writeDayFile(input, java.time.LocalDate.of(2016, 10, 7), rows = 4, seed = 1)
    GasPipeline.runBatch(spark, input.toString, store, ledger, snapshot)

    val before = readLayout(store, snapshot, "2016-10-07", "2016-10-09")
      .collect().toSet

    val phantom = writeDayFile(input, java.time.LocalDate.of(2016, 10, 8),
      rows = 4, seed = 2, suffix = "999999", t0 = 90000)
    GasPipeline.runBatch(spark, input.toString, store, ledger, snapshot)
    val log = if (snapshot) "_commits" else "_manifest"
    assert(spark.read.parquet(s"$store/$log")
      .filter(col("_src") === phantom).count() > 0, s"no $log entry for $phantom")
    assert(!new java.io.File(s"$store/_date=2016-10-08").exists(),
      "the zero-row file wrote a partition")

    val after = readLayout(store, snapshot, "2016-10-07", "2016-10-09")
      .collect().toSet
    assert(after == before, "phantom entry changed (or broke) the window read")
  }

  test("phantom manifest entry (zero-row source file) cannot poison window reads") {
    phantomEntry(snapshot = false)
  }

  test("phantom commit-log entry (zero-row source file) cannot poison readCommitted") {
    phantomEntry(snapshot = true)
  }

  test("replay duplicates and repeated compaction are absorbed") {
    val work = Files.createTempDirectory("graft-manifest-replay")
    val input = Files.createDirectory(work.resolve("input"))
    val store = work.resolve("store").toString
    val name = writeDayFile(input, java.time.LocalDate.of(2016, 10, 7),
      rows = 4, seed = 2)
    GasPipeline.runBatch(spark, input.toString, store, work.resolve("l").toString)

    val clean = LongStore.readWindow(spark, store, "2016-10-07", "2016-10-07")
      .collect().toSeq.sortBy(_.toString)

    // crash-replay: the same batch re-appends its manifest rows; the
    // distinct() in readWindow (and in compaction) must absorb them
    LongStore.appendManifest(spark, store, Seq(name))
    LongStore.appendManifest(spark, store, Seq(name))
    val dup = LongStore.readWindow(spark, store, "2016-10-07", "2016-10-07")
      .collect().toSeq.sortBy(_.toString)
    assert(dup == clean, "replayed manifest appends duplicated window rows")

    // force compaction repeatedly (threshold 0 = always): entry set is
    // stable and the directory folds to a single part file
    LongStore.compactSmallFiles(spark, s"$store/_manifest", 0, dedup = true)
    LongStore.compactSmallFiles(spark, s"$store/_manifest", 0, dedup = true)
    val compacted = LongStore.readWindow(spark, store, "2016-10-07", "2016-10-07")
      .collect().toSeq.sortBy(_.toString)
    assert(compacted == clean)
    val parts = partFiles(s"$store/_manifest")
    assert(parts == 1, s"compaction left $parts part files")
  }
}
