package graft

import java.io.RandomAccessFile
import java.nio.file.Files

import graft.util.{Sessions, TempDirs}

/** The session factory, checked on its settings maps; the only live
  * session touched is the suite's shared one. */
class SessionsSpec extends SparkSpec {

  private val initialKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
  private val pipeline4 = Map("spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4", "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** A temp dir of sparse files (`setLength` writes no data blocks) plus
    * a `*.parquet` subdirectory, which must not count. */
  private def sparseDir(files: (String, Long)*): String = {
    val dir = Files.createTempDirectory("sessions-spec")
    TempDirs.deleteOnExit(dir)
    Files.createDirectory(dir.resolve("nested.parquet"))
    files.foreach { case (name, len) =>
      val f = new RandomAccessFile(dir.resolve(name).toFile, "rw")
      try f.setLength(len) finally f.close()
    }
    dir.toString
  }

  test("initialPartitionNum: ~1 MB of top-level parquet each, floor cpus, cap 2048") {
    val dir = sparseDir("a.parquet" -> (60L << 20), "b.parquet" -> (40L << 20),
      "c.csv" -> (1L << 30))
    assert(Sessions.settings(4, Some(dir), None)(initialKey) == "100")
    assert(Sessions.initialPartitions(sparseDir("a.parquet" -> (3L << 20)), 8) == 8)
    assert(Sessions.initialPartitions("/nonexistent/sessions-spec", 4) == 4)
    assert(Sessions.initialPartitions(sparseDir("big.parquet" -> (3L << 30)), 4) == 2048)
  }

  test("SPARK_GRAFT_CONF: applied last, later value wins, '=' in values, bad pairs skipped") {
    assert(Sessions.parseConf(Some("a=1;;b=x=y;novalue;=v;c=")) ==
      Seq("a" -> "1", "b" -> "x=y", "c" -> ""))
    val q = Sessions.settings(4, Some(sparseDir("a.parquet" -> (100L << 20))),
      Some(s"k=1;$initialKey=7;spark.sql.shuffle.partitions=9;k=2"))
    assert((q(initialKey), q("spark.sql.shuffle.partitions"), q("k")) == (("7", "9", "2")))
  }

  test("pipeline session = the four GasPipeline settings perfbench copies") {
    // PerfBench.session in perfbench/, minus its run-local directories
    assert(Sessions.settings(4, None, None) == pipeline4)
    val live = spark.sparkContext.getConf // the suite's shared session
    pipeline4.foreach { case (k, v) => assert(live.get(k) == v, k) }
    assert(!live.contains("spark.sql.extensions"))
  }

  test("query session = pipeline + derived initialPartitionNum + GraftExtensions") {
    assert(Sessions.settings(4, Some(sparseDir()), None) == pipeline4 ++ Map(
      initialKey -> "4",
      "spark.sql.extensions" -> classOf[graft.functions.GraftExtensions].getName))
  }
}
