package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

package object queries {

  /** Registry shape the driver calls: (session, sfDir) => result frame. */
  type Q = (SparkSession, String) => DataFrame

  /** One registered query: its name, its builder, and the DuckDB SQL that
    * checks its result over the same parquet tables. Each family module
    * lists its queries as `specs`; [[graft.SparkEntry]] derives its
    * `queries` and `oracleSql` maps from them. */
  final case class QuerySpec(name: String, build: Q, oracleSql: String)

  /** Exact sum of a double column, oracle-stable.
    *
    * Summing raw doubles is order-dependent, and Spark and DuckDB aggregate
    * in different orders. Casting each value to an exact decimal first makes
    * the sum associative (exact integer arithmetic under the hood); casting
    * the total back to double is then a single deterministic conversion.
    * Inputs in the testdata have <= 2 fractional digits, so DECIMAL(18,6)
    * loses nothing; per-row products of such values stay well inside the
    * 6-decimal rounding margin (error ~1e-13 vs boundary distance 5e-7).
    */
  def sumExact(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Exact running/window sum of a double column — same rationale. */
  def sumExactCol(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Order-independent mean: exact decimal sum divided by count (one IEEE
    * division, deterministic on both engines). */
  def avgExact(c: Column): Column = sumExact(c) / count(lit(1))

  /** ENGINE-INDEPENDENT half-up 6-dp mean from already-aggregated columns:
    * `sumCol` an exact DECIMAL(18,6) sum, `cntCol` a count. `round(sx/n, 6)`
    * on the IEEE quotient is engine-dependent whenever sx/n lands exactly on
    * a 6th-decimal half-way point with a non-dyadic reduced denominator
    * (attainable for v₂(100n)=7, e.g. n=32 points in a bucket — the ts29
    * class); this integer micro-unit form `(2·sx·10⁶ + n) div 2n` computes
    * the same half-up rounding in exact 64-bit arithmetic on both engines.
    * Requires a NON-NEGATIVE sum (Spark `div` truncates, DuckDB `//`
    * floors; positive dividends make them equal) — all call sites average
    * event values ≥ 0.01. Long headroom: sx·10⁶·2 must fit 2⁶³ → group
    * sums up to ~4.6e12, far above any bucket this engine aggregates; a
    * whole-series mean at extreme scale would move to DECIMAL `div`.
    * Oracle twin fragment:
    * `CAST((2 * CAST(sx * 1000000 AS BIGINT) + n) // (2 * n) AS DOUBLE) / 1e6`.
    *
    * The preconditions are ENFORCED, not just documented: a negative sum
    * raises at run time instead of silently hash-diverging from the
    * oracle, while a NULL sum (all-NULL group, outer-join-produced row)
    * propagates NULL exactly as a plain AVG would — NULL must not fall
    * into the raise_error arm (NULL >= 0 is not true in a CASE, so
    * without the explicit arm it would). (Headroom needs no separate
    * guard: SUM over DECIMAL(18,6) widens to DECIMAL(28,6), ~1e22 cap,
    * so it is the ANSI overflow on the `cast(... as bigint)` of the
    * micro-unit value — not the decimal sum itself — that trips loudly
    * past the ~4.6e12 Long ceiling.)
    */
  def halfUpMean6(sumCol: String, cntCol: String): Column =
    expr(s"case when $sumCol is null then cast(null as double)" +
      s" when $sumCol >= 0" +
      s" then cast((2 * cast($sumCol * 1000000 as bigint) + $cntCol)" +
      s" div (2 * $cntCol) as double) / 1e6" +
      s" else cast(raise_error('halfUpMean6 requires a non-negative sum" +
      s" (Spark div truncates, DuckDB // floors — they diverge on" +
      s" negative dividends); got ' || cast($sumCol as string))" +
      s" as double) end")

  /** Spread a small input across the cluster before a row-multiplying stage.
    *
    * Explode/fan-out pipelines (shingle × hash-seed, bit-position, pair
    * enumeration) multiply rows by 10-100× BEFORE their first shuffle; the
    * map side runs with the scan's input-split parallelism. A small table in
    * one parquet file = one split = one task doing all the fan-out work.
    * Repartitioning the pre-explosion rows costs a negligible shuffle and
    * unlocks full parallelism. At 100 TB the scan already has thousands of
    * splits, so this is a no-op by then — but it must not be the engine's
    * job to assume that. */
  def fanout(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Run independent driver-side materialization thunks CONCURRENTLY.
    *
    * Eager `localCheckpoint` barriers fix the exponential-plan problem of
    * iterative/multi-consumer queries (lineage re-walked per reference) but
    * SERIALIZE what one lazy action would have scheduled as concurrent
    * stages of a single job DAG — at bench scale each extra sequential job
    * is ~0.3 s of scheduling/latency, and a 3-arm sweep pays it 6×.
    * Spark's scheduler happily runs jobs submitted from several driver
    * threads at once (optimization guide §2.6 — FIFO back-fill), so
    * independent barrier chains are submitted together and the wall cost
    * is max(chain), not sum. Results keep argument order.
    *
    * Each thunk runs on its own thread of a pool that lives for this call
    * (shut down before it returns), with the caller's active session, and tags its Spark jobs with this
    * call's job tag (a tag, not a job group, so the caller's own group stays
    * on the jobs). The first thunk to throw cancels the tag: its siblings'
    * jobs end as cancelled instead of running to the end, and the exception
    * rethrows once every sibling has returned, so no job of this call
    * outlives it. */
  def inParallel[T](thunks: (() => T)*): Seq[T] = {
    import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
    val session = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val tag = s"graft-inParallel-${java.util.UUID.randomUUID}"
    val pool = Executors.newFixedThreadPool(math.max(thunks.size, 1))
    val done = new ExecutorCompletionService[T](pool)
    val futures = thunks.map(t => done.submit { () =>
      session.foreach { s =>
        SparkSession.setActiveSession(s)
        s.sparkContext.addJobTag(tag)
        s.sparkContext.setInterruptOnCancel(true)
      }
      t()
    })
    def cancel(): Unit = session.foreach(_.sparkContext.cancelJobsWithTag(tag))
    try {
      thunks.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
      futures.map(_.get())
    } catch { case e: Throwable =>
      cancel()
      pool.shutdown()
      // a sibling still planning submits its job after the first cancel
      while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS)) cancel()
      throw e
    } finally pool.shutdown()
  }
}
