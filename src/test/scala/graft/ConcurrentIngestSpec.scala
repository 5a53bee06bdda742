package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.GasQueries
import graft.store.LongStore

/** INGEST UNDER LIVE READERS: a store is re-written while dashboards read
  * it. Writer rounds re-ingest the tail days into the same partitions
  * (a fresh ledger each round), which churns the plain store's dynamic
  * overwrite, the `_manifest` append and fold, the snapshot store's
  * generations and `_commits` log, and a retention-2 vacuum. Readers on a
  * thread pool share the session and must checksum-equal their quiesced
  * run on every pass:
  *
  *  - DISJOINT windows over the plain store (settled days): a time range
  *    over the full listing, the same range planned by
  *    [[LongStore.readWindow]], and [[GasQueries.fieldDayMean]]. New
  *    writes only touch partitions these readers prune away.
  *  - The SNAPSHOT overlap read: [[LongStore.readCommitted]] over the very
  *    days being re-ingested. Committed generations are immutable and the
  *    log append is the only publication step, so it cannot see a
  *    half-swapped partition. The plain store's overlap read has no such
  *    guarantee and is not gated.
  */
class ConcurrentIngestSpec extends SparkSpec {

  test("re-ingest under live readers: disjoint windows and the snapshot overlap read stay checksum-identical") {
    val work = Files.createTempDirectory("graft-ingest-race")
    val days = Files.createDirectory(work.resolve("days"))
    val input = Files.createDirectory(work.resolve("input"))
    val tail = Files.createDirectory(work.resolve("tail"))
    val store = work.resolve("store").toString
    val snapStore = work.resolve("snapstore").toString
    val d0 = java.time.LocalDate.of(2016, 10, 7)
    val names = (0 until 5).map(d =>
      DayFiles.write(days, d0.plusDays(d.toLong), rows = 40, seed = d))

    // one day per batch into both layouts: ledger-first discovery scopes
    // each batch to the day just dropped
    names.foreach { n =>
      Files.copy(days.resolve(n), input.resolve(n))
      GasPipeline.runBatch(spark, input.toString, store, s"$work/ledger")
      GasPipeline.runBatch(spark, input.toString, snapStore, s"$work/snapledger",
        snapshot = true)
    }
    names.takeRight(3).foreach(n => Files.copy(days.resolve(n), tail.resolve(n)))
    val tailDay = d0.plusDays(2L)

    val proj = Seq(unix_micros(col("_time")).as("t_us"), col("_field"), col("_value"))
    def settledRange(long: DataFrame): DataFrame =
      GasQueries.timeRange(long, s"$d0 00:00:00", s"${d0.plusDays(1L)} 23:59:59")
        .select(proj: _*)
    val readers: Seq[(String, () => DataFrame)] = Seq(
      "full-listing range" -> (() => settledRange(spark.read.parquet(store))),
      "readWindow range" -> (() => settledRange(LongStore.readWindow(spark, store,
        d0.minusDays(1L).toString, d0.plusDays(1L).toString))),
      "fieldDayMean" -> (() => GasQueries.fieldDayMean(spark.read.parquet(store),
        "CO (ppm)", d0.toString, "1 hour")),
      "snapshot overlap" -> (() => GasQueries.timeRange(
          LongStore.readCommitted(spark, snapStore,
            tailDay.minusDays(1L).toString, tailDay.plusDays(1L).toString),
          s"$tailDay 00:00:00", s"$tailDay 23:59:59")
        .select(proj: _*)))
    val quiesced = readers.map { case (_, q) => HashQuery.checksum(q()) }

    val pool = Executors.newFixedThreadPool(readers.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val started = new CountDownLatch(readers.size)
    val done = new AtomicBoolean(false)
    try {
      // do-while: every reader completes at least one pass, and its first
      // pass starts before the writer's first round
      val loops = readers.zip(quiesced).map { case ((name, q), want) =>
        Future {
          var (ok, bad, errors) = (0, 0, List.empty[String])
          started.countDown()
          do {
            try { if (HashQuery.checksum(q()) == want) ok += 1 else bad += 1 }
            catch { case e: Exception => errors ::= e.toString }
          } while (!done.get())
          (name, ok, bad, errors)
        }
      }
      started.await()
      (1 to 3).foreach { r =>
        GasPipeline.runBatch(spark, tail.toString, store, s"$work/ledger_r$r")
        GasPipeline.runBatch(spark, tail.toString, snapStore,
          s"$work/snapledger_r$r", snapshot = true)
        LongStore.vacuumSnapshots(spark, snapStore, keepLast = 2)
      }
      done.set(true)
      loops.map(Await.result(_, 2.minutes)).foreach { case (name, ok, bad, errors) =>
        info(s"$name: $ok passes")
        assert(bad == 0 && errors.isEmpty,
          s"$name diverged under re-ingest: ok=$ok mismatch=$bad errors=${errors.take(2)}")
        assert(ok > 0, s"$name never completed a pass")
      }
    } finally {
      done.set(true)
      pool.shutdown()
    }
  }
}
