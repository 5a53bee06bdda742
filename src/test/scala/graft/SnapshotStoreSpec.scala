package graft

import java.nio.file.Files

import graft.store.LongStore

/** SNAPSHOT COMMIT LOG (round-15 verdict item 4): the manifest promoted to
  * a generation log so a reader covering the very partition being
  * re-ingested gets snapshot isolation — writers never mutate committed
  * files, `_commits` appends are the only publication step, and readers
  * resolve exactly the latest committed generation. This spec pins the
  * protocol's four load-bearing properties at the unit level; the
  * raced-by-writers version is ConcurrentIngestSpec, and gs38's oracle
  * pins the end-to-end read against the raw-CSV ground truth.
  */
class SnapshotStoreSpec extends SparkSpec {

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("_time", "_field", "_value").collect()
      .map(_.mkString("|")).toSet

  test("latest-generation reads, uncommitted invisibility, vacuum retention") {
    val work = Files.createTempDirectory("graft-snap-spec")
    val input = Files.createDirectory(work.resolve("input"))
    val store = work.resolve("store").toString
    val start = java.time.LocalDate.of(2016, 10, 7)

    // 3 days, one snapshot batch per day (the cadence path)
    (0 until 3).foreach { d =>
      DayFiles.write(input, start.plusDays(d.toLong), rows = 4, seed = d)
      GasPipeline.runBatch(spark, input.toString, store,
        work.resolve("ledger").toString, snapshot = true)
    }
    val v1 = rowsOf(LongStore.readCommitted(spark, store,
      start.toString, start.plusDays(3L).toString))
    assert(v1.nonEmpty, "snapshot store read nothing after 3 batches")

    // re-ingest the SAME middle day (fresh ledger): a second, identical
    // generation lands; the read must not union generations
    val midName = start.plusDays(1L)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE) + "_210000.csv"
    val solo = Files.createDirectory(work.resolve("solo"))
    Files.copy(input.resolve(midName), solo.resolve(midName))
    GasPipeline.runBatch(spark, solo.toString, store,
      work.resolve("ledger2").toString, snapshot = true)
    val v2 = rowsOf(LongStore.readCommitted(spark, store,
      start.toString, start.plusDays(3L).toString))
    assert(v2 == v1, "identical re-ingest changed the committed view " +
      s"(${v2.size} vs ${v1.size} rows — a generation union doubles)")

    // rewrite the middle day with DIFFERENT data: latest generation wins
    DayFiles.write(solo, start.plusDays(1L), rows = 4, seed = 99)
    GasPipeline.runBatch(spark, solo.toString, store,
      work.resolve("ledger3").toString, snapshot = true)
    val v3 = LongStore.readCommitted(spark, store,
      start.plusDays(1L).toString, start.plusDays(1L).toString)
    import org.apache.spark.sql.functions._
    val distinctVals = v3.filter(col("_field") === "CO (ppm)")
      .select("_value").collect().map(_.getDouble(0)).toSet
    assert(distinctVals == (0 until 4).map(r => (99 * 100 + r * 10 + 1) / 7.0)
      .map(v => BigDecimal(f"$v%.4f").toDouble).toSet,
      s"latest-generation read did not serve the rewrite: $distinctVals")

    // an UNCOMMITTED generation directory (crash between data write and
    // log append, simulated by planting one) is invisible to readers —
    // the log, not the listing, is the table
    val dayDir = new java.io.File(s"$store/_date=${start.plusDays(2L)}")
      .listFiles().filter(_.getName.startsWith("_src=")).head
    val committed = dayDir.listFiles().filter(_.getName.startsWith("g=")).head
    val phantom = new java.io.File(dayDir, "g=999")
    org.apache.commons.io.FileUtils.copyDirectory(committed, phantom)
    val v4 = rowsOf(LongStore.readCommitted(spark, store,
      start.toString, start.plusDays(3L).toString))
    val expectedAfterRewrite = rowsOf(LongStore.readCommitted(spark, store,
      start.toString, start.plusDays(3L).toString))
    assert(v4 == expectedAfterRewrite,
      "reader resolved an uncommitted generation directory")
    assert(LongStore.nextGen(spark, store) <= 6L,
      "nextGen must derive from the log, not directory listings")

    // vacuum to the latest generation only: superseded dirs go, the
    // committed view is unchanged, and the planted orphan is untouched
    // (vacuum trusts the log too — orphan cleanup is a listing-side tool)
    LongStore.vacuumSnapshots(spark, store, keepLast = 1)
    val v5 = rowsOf(LongStore.readCommitted(spark, store,
      start.toString, start.plusDays(3L).toString))
    assert(v5 == v4, "vacuum(keepLast=1) changed the committed view")
    val midDirs = new java.io.File(s"$store/_date=${start.plusDays(1L)}")
      .listFiles().filter(_.getName.startsWith("_src=")).head
      .listFiles().count(_.getName.startsWith("g="))
    assert(midDirs == 1,
      s"vacuum left $midDirs generation dirs on the thrice-written day")
  }
}
