package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

import graft.queries.inParallel

class InParallelSpec extends SparkSpec {

  test("inParallel keeps argument order and runs thunks on the caller's session") {
    val s = spark
    assert(inParallel(() => { Thread.sleep(300); SparkSession.active eq s },
      () => s.range(10).count() == 10) == Seq(true, true))
  }

  test("inParallel: a thunk that throws cancels its slow sibling's job at once") {
    val slowErr = new AtomicReference[Throwable]
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](inParallel[Long](
      // ~20 s if it runs to the end: 2 tasks × 200 rows × 100 ms
      () => try spark.sparkContext.parallelize(0 until 400, 2)
          .map { x => Thread.sleep(100); x.toLong }.count()
        catch { case t: Throwable => slowErr.set(t); throw t },
      () => throw new IllegalStateException("fails fast")))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "fails fast")
    assert(secs < 5, s"inParallel waited $secs s for the slow sibling")
    assert(String.valueOf(slowErr.get).contains("cancelled"), "slow job not cancelled")
  }
}
