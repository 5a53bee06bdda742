package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.util.Barriers

/** Lifecycle of eager localCheckpoint barriers (r17): superseded loop
  * frames must release their executor-storage blocks, live frames must
  * keep them, and released frames must never be required again by the
  * surviving plan. Every barrier in the engine goes through [[Barriers]].
  */
class BarriersSpec extends SparkSpec {

  private def persistentRddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("release drops a checkpoint's blocks; non-checkpoint frames are a no-op") {
    val before = persistentRddIds
    val cp = Barriers.eager(spark.range(0, 1000).toDF("id"))
    val added = persistentRddIds -- before
    assert(added.nonEmpty, "eager localCheckpoint should persist an RDD")
    // releasing a plain (non-checkpointed) frame must not throw or drop
    // anything
    Barriers.release(spark.range(5).toDF("id"))
    assert((persistentRddIds -- before) == added)
    Barriers.release(cp)
    assert(
      (persistentRddIds -- before).isEmpty,
      "release must unpersist the checkpointed RDD's blocks")
  }

  test("an iterative fold that releases predecessors keeps only the last frame") {
    val plain = spark.range(0, 100).toDF("id")
    // a checkpointed seed is released after step 1 (KCore); a plain seed
    // is left alone (the k-means folds)
    for ((seed, label) <- Seq(
        (() => Barriers.eager(plain), "checkpointed seed"),
        (() => plain, "plain seed"))) {
      val before = persistentRddIds
      val last = Barriers.iterate(seed(), 4)(_.withColumn("id", col("id") + 1))
      val kept = persistentRddIds -- before
      assert(kept.size == 1,
        s"$label: 4 checkpointed iterations should leave exactly 1 live RDD, got $kept")
      // the surviving frame is still fully readable after its
      // predecessors were released
      assert(last.agg(sum("id")).head.getLong(0) == (4L to 103L).sum, label)
      Barriers.release(last)
      assert((persistentRddIds -- before).isEmpty, label)
    }
  }

  test("CC releases its superseded label rounds and edge frame") {
    import spark.implicits._
    val before = persistentRddIds
    // a 5-chain plus an isolated edge — needs >1 round, exercising the
    // per-round release path
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")
    val labels = graft.operators.ConnectedComponents.minLabel(edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
    val kept = persistentRddIds -- before
    assert(kept.size <= 1,
      s"CC should keep at most the returned labels frame live, got $kept")
  }

  test("every barrier in src/main goes through Barriers and no env var switches it") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"$root: run from the project base dir")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def offenders(p: Path => Boolean, needle: String => Boolean): Seq[String] =
      sources.filter(p).flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if needle(line) => s"${root.relativize(f)}:${i + 1}"
        }
      }
    val barrierHome = root.resolve("graft/util/Barriers.scala")
    val direct = offenders(_ != barrierHome, _.contains(".localCheckpoint("))
    assert(direct.isEmpty, s"barrier made outside Barriers.eager: $direct")
    val knobs = offenders(_ => true, "SPARK_GRAFT_\\w*BARRIER".r.findFirstIn(_).nonEmpty)
    assert(knobs.isEmpty, s"barrier policy read from the environment: $knobs")
  }
}
