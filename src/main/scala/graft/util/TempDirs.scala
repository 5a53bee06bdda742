package graft.util

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.SparkSession

/** Process-wide registry of temp directories to delete at JVM exit, and the
  * build-once memo for the derived stores that live in them.
  *
  * One shutdown hook drains the whole registry, however many temp stores a
  * long-lived multi-session process accumulates — registering a hook per
  * (session, dir) entry (the previous scheme) grows the JVM's hook set
  * without bound.
  */
object TempDirs {

  private val registry = new ConcurrentLinkedQueue[Path]()

  // lazily install exactly one hook, on first registration
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var dir = registry.poll()
      while (dir != null) {
        try Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach { p => Files.deleteIfExists(p); () }
        catch { case _: Throwable => () } // best-effort temp cleanup
        dir = registry.poll()
      }
    }))

  /** Mark `dir` (and everything under it) for deletion at JVM exit. */
  def deleteOnExit(dir: Path): Unit = {
    hookInstalled
    registry.add(dir)
    ()
  }

  // one weak-keyed session memo per key; the memo object is also the key's
  // lock, so builds under different keys never wait on each other
  private val memos =
    new ConcurrentHashMap[String, java.util.WeakHashMap[SparkSession, AnyRef]]()

  /** Build once per (session, key): the first call creates a fresh temp dir,
    * registers it with [[deleteOnExit]], runs `build` on it and memoizes the
    * result; later calls with the same session and key return that result.
    *
    *  - The session is WEAKLY keyed, so a stopped session is collected
    *    rather than pinned for the process lifetime.
    *  - Each key has its own lock: concurrent calls for one key build once,
    *    while different keys build concurrently.
    *  - A `build` that throws leaves no entry, so the next call retries
    *    (in a new temp dir).
    */
  def perSession[T](spark: SparkSession, key: String)(build: Path => T): T = {
    val memo = memos.computeIfAbsent(key,
      _ => new java.util.WeakHashMap[SparkSession, AnyRef]())
    memo.synchronized {
      Option(memo.get(spark)).getOrElse {
        // a key may embed a dir path; the prefix must stay one file name
        val work = Files.createTempDirectory(
          "graft-" + key.replaceAll("[^A-Za-z0-9_-]", "_").take(40))
        deleteOnExit(work)
        val v = build(work).asInstanceOf[AnyRef]
        memo.put(spark, v)
        v
      }.asInstanceOf[T]
    }
  }
}
