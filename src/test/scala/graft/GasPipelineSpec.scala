package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.store.LongStore

/** Replays the reference's demo scenario (README.md:253-261): drop files →
  * processed; re-trigger → skipped; add new file → only it is processed.
  * This pins the ledger's exactly-once semantics (SURVEY.md §5 item 2). */
class GasPipelineSpec extends SparkSpec {

  private def resource(name: String): Path =
    Paths.get(getClass.getResource(s"/gas/$name").getPath)

  /** The ledger holds exactly the processed names, each once: it is
    * written from the batch's discovered names, not a re-read of the data. */
  private def ledgerNames(ledger: String): Seq[String] =
    spark.read.parquet(ledger).select("file_name")
      .collect().map(_.getString(0)).toSeq.sorted

  test("ledger idempotency: second run is a no-op; new file processed alone") {
    val work = Files.createTempDirectory("graft-pipe")
    val input = Files.createDirectory(work.resolve("input"))
    val store = work.resolve("store").toString
    val ledger = work.resolve("ledger").toString

    Files.copy(resource("20161007_210049.csv"),
      input.resolve("20161007_210049.csv"), StandardCopyOption.REPLACE_EXISTING)

    // run 1: one file, processed
    val r1 = GasPipeline.runBatch(spark, input.toString, store, ledger)
    assert(r1.collect().map(_.getString(0)).toSeq == Seq("20161007_210049.csv"))
    val n1 = spark.read.parquet(store).count()
    assert(n1 == 8 * 19) // 8 kept rows × 19 fields
    assert(ledgerNames(ledger) == Seq("20161007_210049.csv"))

    // run 2: same directory → skip branch, store untouched
    val r2 = GasPipeline.runBatch(spark, input.toString, store, ledger)
    assert(r2.count() == 0)
    assert(spark.read.parquet(store).count() == n1)
    assert(ledgerNames(ledger) == Seq("20161007_210049.csv"))

    // run 3: add a second file → only it is processed; store gains its day
    Files.copy(resource("20161008_120000.csv"),
      input.resolve("20161008_120000.csv"), StandardCopyOption.REPLACE_EXISTING)
    val r3 = GasPipeline.runBatch(spark, input.toString, store, ledger)
    assert(r3.collect().map(_.getString(0)).toSeq == Seq("20161008_120000.csv"))
    assert(spark.read.parquet(store).count() == n1 + 6 * 19)
    assert(ledgerNames(ledger) == Seq("20161007_210049.csv", "20161008_120000.csv"))
  }

  test("CLI entry: one command runs the whole DAG; default ledger is store-scan-invisible") {
    val work = Files.createTempDirectory("graft-cli")
    val input = Files.createDirectory(work.resolve("input"))
    val store = work.resolve("store").toString

    Files.copy(resource("20161007_210049.csv"),
      input.resolve("20161007_210049.csv"), StandardCopyOption.REPLACE_EXISTING)

    intercept[IllegalArgumentException] {
      GasPipeline.cli(spark, Array(input.toString))
    }

    // run 1 with the DEFAULT ledger dir (<store>/_ledger): processed
    val m1 = GasPipeline.cli(spark, Array(input.toString, store))
    assert(m1.contains("processed 1 new file(s)") &&
      m1.contains("20161007_210049.csv"), m1)
    // the in-store ledger must be invisible to a plain store scan
    // (underscore-prefixed paths are hidden to parquet readers)
    assert(spark.read.parquet(store).count() == 8 * 19)

    // run 2, same args: the ledger (found via the same default) skips all
    val m2 = GasPipeline.cli(spark, Array(input.toString, store))
    assert(m2.contains("processed 0 new file(s)"), m2)
    assert(spark.read.parquet(store).count() == 8 * 19)
  }

  test("a header-only day file is ledgered once: run 1 returns it, run 2 is a no-op") {
    val work = Files.createTempDirectory("graft-pipe-header")
    val input = Files.createDirectory(work.resolve("input"))
    val store = work.resolve("store").toString
    val ledger = work.resolve("ledger").toString
    val header = Files.readAllLines(resource("20161007_210049.csv")).get(0)
    Files.write(input.resolve("20161009_000000.csv"), s"$header\n".getBytes("UTF-8"))

    val r1 = GasPipeline.runBatch(spark, input.toString, store, ledger)
    assert(r1.collect().map(_.getString(0)).toSeq == Seq("20161009_000000.csv"))
    assert(ledgerNames(ledger) == Seq("20161009_000000.csv"))
    // its day holds no rows, and reading it is an empty window, not an error
    assert(LongStore.readWindow(spark, store, "2016-10-09", "2016-10-09").count() == 0)

    val r2 = GasPipeline.runBatch(spark, input.toString, store, ledger)
    assert(r2.count() == 0, "the header-only file was processed again")
    assert(ledgerNames(ledger) == Seq("20161009_000000.csv"))
  }

  test("unusual file names: a space and glob brackets are processed once, under their encoded names") {
    val work = Files.createTempDirectory("graft-pipe-names")
    val input = Files.createDirectory(work.resolve("input"))
    val store = work.resolve("store").toString
    val ledger = work.resolve("ledger").toString
    Seq("20161007_210049 copy.csv", "20161007_210049[1].csv").foreach { f =>
      Files.copy(resource("20161007_210049.csv"), input.resolve(f))
    }
    // the form input_file_name() yields, which the ledger and `_src` keep
    val encoded = Seq("20161007_210049%20copy.csv", "20161007_210049%5B1%5D.csv")

    val r1 = GasPipeline.runBatch(spark, input.toString, store, ledger)
    assert(r1.collect().map(_.getString(0)).toSeq == encoded)
    assert(ledgerNames(ledger) == encoded)
    assert(spark.read.parquet(store).select("_src").distinct()
      .collect().map(_.getString(0)).toSeq.sorted == encoded)
    assert(spark.read.parquet(store).count() == 2 * 8 * 19)
    // the manifest-planned read finds both partitions under their escaped
    // directory names
    assert(LongStore.readWindow(spark, store, "2016-10-07", "2016-10-07")
      .count() == 2 * 8 * 19)

    val r2 = GasPipeline.runBatch(spark, input.toString, store, ledger)
    assert(r2.count() == 0)
    assert(ledgerNames(ledger) == encoded)
  }

  test("scan count: a no-op run reads no CSV; the next run reads exactly the new file") {
    val work = Files.createTempDirectory("graft-pipe-scans")
    val input = Files.createDirectory(work.resolve("input"))
    val store = work.resolve("store").toString
    val ledger = work.resolve("ledger").toString
    Files.copy(resource("20161007_210049.csv"), input.resolve("20161007_210049.csv"))

    // a session of its own, so only this test's queries reach the listener
    val s = spark.newSession()
    val census = new ScanCensus.Recorder(s)
    def csvFilesScanned(body: => Unit): Seq[Long] =
      census.queries(body).flatMap(qe => ScanCensus.csvScans(qe.executedPlan))
        .map(_.metrics("numFiles").value)

    assert(csvFilesScanned(GasPipeline.runBatch(s, input.toString, store, ledger)) == Seq(1L))
    assert(csvFilesScanned(GasPipeline.runBatch(s, input.toString, store, ledger)).isEmpty,
      "the no-op run scanned CSV")
    Files.copy(resource("20161008_120000.csv"), input.resolve("20161008_120000.csv"))
    assert(csvFilesScanned(GasPipeline.runBatch(s, input.toString, store, ledger)) == Seq(1L),
      "the run after one new file did not scan exactly that file")
  }
}
