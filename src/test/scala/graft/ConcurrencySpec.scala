package graft

import java.security.MessageDigest
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CONCURRENT-QUERY REGIME (round-12 verdict item 7, the optional
  * stretch): a shared engine serves concurrent queries, but every prior
  * gate drove the board strictly serially — and the code carried one
  * documented single-threaded-only constraint (the session-wide RocksDB
  * provider swap in GasStoreQueries, scoped to a per-query child session
  * this round). This spec runs a cross-family slice of the board 4-way
  * concurrent in ONE SparkContext and asserts every result is
  * bit-identical to the serial run.
  *
  * The slice deliberately includes the historical mutation sites:
  * q40/q41 (child-session conf staging for bloom-filter join + aggregate
  * pushdown) and the three RocksDB-pinned sinks (gs27's and gs28's
  * transformWithState processors, gs35's dedup → as-of enrich chain)
  * running concurrently with DEFAULT-provider streaming sinks (gs22, and
  * the keyed-state folds of gs15/gs34) — if the provider pin leaked
  * across sessions, a default-provider checkpoint would flip providers
  * mid-build and abort. Batch families (join, agg, text, vector,
  * time-series, multimodal) ride along to exercise plain concurrent Catalyst
  * planning/execution on the shared context. Every build shape the
  * per-session memo (`graft.util.TempDirs.perSession`) serves runs cold
  * under contention too: the batch, streaming and snapshot store builds
  * (gs01/gs37/gs38), the foreachBatch upsert (gs12) and the
  * complete-mode memory sink (gs30).
  *
  * Serial reference and concurrent run use SEPARATE sessions (memoized
  * streaming sinks are per-session, so the concurrent session builds its
  * sinks cold, under contention — the case the old constraint forbade).
  * Determinism of each query's RESULT is the board's own contract
  * (exact-decimal sums, audited float sites), so hash equality is the
  * right assertion, not row-count envelopes.
  */
class ConcurrencySpec extends SparkSpec {

  private val slice = Seq(
    "q01_pricing_summary", "q03_join_multiway", "q40_bloom_filter_join",
    "q41_agg_pushdown", "q06_top3_per_customer",
    "ts03_downsample_1h", "ts25_anomaly_detect",
    "tx01_exact_dedup", "tx05_minhash_pairs",
    "v01_cosine_topk", "v05_ivf_ann",
    "mm08_phash_dedup",
    "gs22_stream_histogram",
    "gs15_stream_cusum", "gs27_stream_kmv_distinct", "gs34_stream_asof_enrich",
    "gs28_stream_timer_seal", "gs35_stream_dedup_enrich",
    "gs01_field_filter", "gs37_manifest_stream_store", "gs38_snapshot_time_range",
    "gs12_stream_upsert", "gs30_stream_complete_totals")

  /** Canonical content hash: column names + every row rendered and
    * sorted, so physical row/partition order can't affect the digest. */
  private def contentHash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toString).sorted
    val md = MessageDigest.getInstance("MD5")
    md.update(cols.mkString("|").getBytes("UTF-8"))
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  test("4-way concurrent slice is bit-identical to the serial run") {
    val registered = SparkEntry.queries
    val missing = slice.filterNot(registered.contains)
    assert(missing.isEmpty, s"slice names drifted from the registry: $missing")

    // serial reference on its own session (cold sinks, one thread)
    val serialSession = spark.newSession()
    val want = slice.map { name =>
      name -> contentHash(registered(name)(serialSession, sf))
    }.toMap

    // concurrent run: fresh session (cold sinks again), 4 worker threads
    val concSession = spark.newSession()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // deterministic shuffle so rocks/default-provider streams and the
      // child-session batch queries interleave across workers
      val order = slice.sortBy(n => MessageDigest.getInstance("MD5")
        .digest(n.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      val futures = order.map { name =>
        Future(name -> contentHash(registered(name)(concSession, sf)))
      }
      val got = Await.result(Future.sequence(futures), 30.minutes).toMap
      val diverged = slice.filter(n => got(n) != want(n))
      assert(diverged.isEmpty,
        s"concurrent results diverged from serial: $diverged")
    } finally pool.shutdown()
  }
}
