package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.ingest.GasIngest
import graft.store.LongStore
import graft.transform.GasTransform

/** EXACTLY-ONCE UNDER CRASH for the batch ingest (round-11 verdict item 7):
  * the pipeline's contract is write-after-load ordering + idempotent
  * per-(_date, _src) dynamic-partition overwrite — a crash BETWEEN the
  * store write and the ledger append re-processes the same files into the
  * same partitions, so observable state is exactly-once even though
  * delivery is at-least-once.
  *
  * This spec PROVES it by simulating that exact crash window: run the
  * pipeline's own stages up to and including the store write (with the
  * multi-writer path forced — the round-11 `writersFor` funnel fix spreads
  * each partition over N writer tasks, and the overwrite must stay
  * idempotent with N files per partition), "crash" before the ledger
  * append, then re-run the REAL `GasPipeline.runBatch` and assert the store
  * is row-for-row identical to a clean single-run store and the ledger
  * holds each file exactly once.
  *
  * Stress rung: `sbt -Dgraft.gas.stress.dir=/tmp/gas_s8 'testOnly
  * graft.CrashReplaySpec'` points the same spec at the 28 Hz SLADDER
  * fixture (2.4 M rows, size-derived multi-writer), proving the claim under
  * the same volume the throughput ladder applies; unset, it runs on the
  * committed two-day fixture with writers forced to 4 so CI always
  * exercises the multi-file-per-partition overwrite.
  */
class CrashReplaySpec extends SparkSpec {

  private def resource(name: String): Path =
    java.nio.file.Paths.get(getClass.getResource(s"/gas/$name").getPath)

  test("crash between store write and ledger append: re-run yields exactly-once state") {
    val stressDir = sys.props.get("graft.gas.stress.dir")
    // prop-echo (round-13: a forked JVM silently dropped -Dgraft.* until
    // build.sbt forwarded them; the echo keeps a stale sbt shell visible)
    info(s"graft.gas.stress.dir=${stressDir.getOrElse("<unset: CI fixture>")}")
    val work = Files.createTempDirectory("graft-crash-replay")
    val input = stressDir.getOrElse {
      val in = Files.createDirectory(work.resolve("input"))
      Seq("20161007_210049.csv", "20161008_120000.csv").foreach { f =>
        Files.copy(resource(f), in.resolve(f))
      }
      in.toString
    }
    // the multi-writer path must be under test even on the small fixture;
    // at a stress rung writersFor derives >1 from the file size itself
    val writers = math.max(4,
      LongStore.writersFor(GasIngest.listDayFiles(spark, input).map(_.bytes).max))

    // ---- reference: one clean run into its own store ----------------
    val cleanStore = work.resolve("clean_store").toString
    GasPipeline.runBatch(spark, input, cleanStore, s"$cleanStore/_ledger")

    // ---- crashed run: the pipeline's own stages, stopped after the
    // store write and BEFORE the ledger append (the crash window) ------
    val store = work.resolve("store").toString
    val ledger = work.resolve("ledger").toString
    val fresh = GasIngest.readFiles(spark, GasIngest.discover(spark, input, ledger))
    LongStore.write(GasTransform.toLong(fresh), store,
      writersPerPartition = writers)
    // CRASH: no ledger append — the files look unprocessed to the next run

    // ---- recovery: the real pipeline re-runs everything ---------------
    val replayed = GasPipeline.runBatch(spark, input, store, ledger)
    assert(replayed.count() > 0, "recovery run saw no unprocessed files")

    // no dup / no loss: row-for-row equality with the clean store
    val got = spark.read.parquet(store).drop("_src")
    val want = spark.read.parquet(cleanStore).drop("_src")
    assert(got.count() == want.count(),
      s"row count ${got.count()} != clean ${want.count()} after crash replay")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "store content diverged from the clean single-run store")

    // ledger holds each file exactly once
    val perFile = spark.read.parquet(ledger)
      .groupBy(col("file_name")).count()
      .filter(col("count") > 1).count()
    assert(perFile == 0, "a file is ledgered more than once after replay")

    // and a further run is a no-op (the reference's skip branch)
    assert(GasPipeline.runBatch(spark, input, store, ledger).count() == 0,
      "third run re-processed already-ledgered files")
  }
}
