package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.util.TempDirs

/** The build-once memo behind every derived store: one build per
  * (session, key), per-key locking, session-scoped entries and retry
  * after a failed build. */
class TempDirsSpec extends SparkSpec {

  private def withPool[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool))
    finally pool.shutdown()
  }

  test("8 concurrent callers on one (session, key) share one build") {
    val s = spark.newSession()
    val builds = new AtomicInteger()
    val gate = new CountDownLatch(1)
    val got = withPool(8) { implicit ec =>
      val fs = (1 to 8).map { _ =>
        Future {
          gate.await()
          TempDirs.perSession(s, "spec-once") { work =>
            assert(Files.isDirectory(work))
            builds.incrementAndGet()
            Thread.sleep(200)
            work.toString
          }
        }
      }
      gate.countDown()
      Await.result(Future.sequence(fs), 1.minute)
    }
    assert(builds.get() == 1)
    assert(got.distinct.size == 1)
  }

  test("different keys build concurrently: each key has its own lock") {
    val s = spark.newSession()
    // each build waits for the other to start; one shared lock would hold
    // the second build back until the first timed out
    val bothStarted = new CountDownLatch(2)
    val met = withPool(2) { implicit ec =>
      val fs = Seq("spec-key-a", "spec-key-b").map { key =>
        Future {
          TempDirs.perSession(s, key) { _ =>
            bothStarted.countDown()
            bothStarted.await(30, TimeUnit.SECONDS)
          }
        }
      }
      Await.result(Future.sequence(fs), 1.minute)
    }
    assert(met == Seq(true, true))
  }

  test("a new session builds again") {
    val builds = new AtomicInteger()
    def build(s: org.apache.spark.sql.SparkSession) =
      TempDirs.perSession(s, "spec-session") { work =>
        builds.incrementAndGet()
        work.toString
      }
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val first = build(s1)
    assert(build(s1) == first)
    assert(build(s2) != first)
    assert(builds.get() == 2)
  }

  test("a throwing build leaves no entry and the next call retries") {
    val s = spark.newSession()
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      TempDirs.perSession(s, "spec-retry") { _ =>
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    val v = TempDirs.perSession(s, "spec-retry") { _ =>
      builds.incrementAndGet()
      "built"
    }
    assert(v == "built")
    assert(TempDirs.perSession(s, "spec-retry")(_ => "rebuilt") == "built")
    assert(builds.get() == 2)
  }
}
