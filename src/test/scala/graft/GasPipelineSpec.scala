package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Replays the reference's demo scenario (README.md:253-261): drop files →
  * processed; re-trigger → skipped; add new file → only it is processed.
  * This pins the ledger's exactly-once semantics (SURVEY.md §5 item 2). */
class GasPipelineSpec extends SparkSpec {

  private def resource(name: String): Path =
    Paths.get(getClass.getResource(s"/gas/$name").getPath)

  test("ledger idempotency: second run is a no-op; new file processed alone") {
    val work = Files.createTempDirectory("graft-pipe")
    val input = Files.createDirectory(work.resolve("input"))
    val store = work.resolve("store").toString
    val ledger = work.resolve("ledger").toString
    // the ledger holds exactly the processed names, each once: it is
    // written from the batch's collected names, not a re-read of the data
    def ledgered = spark.read.parquet(ledger).select("file_name")
      .collect().map(_.getString(0)).toSeq.sorted

    Files.copy(resource("20161007_210049.csv"),
      input.resolve("20161007_210049.csv"), StandardCopyOption.REPLACE_EXISTING)

    // run 1: one file, processed
    val r1 = GasPipeline.runBatch(spark, input.toString, store, ledger)
    assert(r1.collect().map(_.getString(0)).toSeq == Seq("20161007_210049.csv"))
    val n1 = spark.read.parquet(store).count()
    assert(n1 == 8 * 19) // 8 kept rows × 19 fields
    assert(ledgered == Seq("20161007_210049.csv"))

    // run 2: same directory → skip branch, store untouched
    val r2 = GasPipeline.runBatch(spark, input.toString, store, ledger)
    assert(r2.count() == 0)
    assert(spark.read.parquet(store).count() == n1)
    assert(ledgered == Seq("20161007_210049.csv"))

    // run 3: add a second file → only it is processed; store gains its day
    Files.copy(resource("20161008_120000.csv"),
      input.resolve("20161008_120000.csv"), StandardCopyOption.REPLACE_EXISTING)
    val r3 = GasPipeline.runBatch(spark, input.toString, store, ledger)
    assert(r3.collect().map(_.getString(0)).toSeq == Seq("20161008_120000.csv"))
    assert(spark.read.parquet(store).count() == n1 + 6 * 19)
    assert(ledgered == Seq("20161007_210049.csv", "20161008_120000.csv"))
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
}
