package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Ingest benchmark against the reference's ETL envelope (BASELINE.md):
  * the reference pushes ≈4 M rows × 20 cols through
  * discover → dedup-check → transform → load inside a 10-minute Airflow
  * DAG timeout. This main runs the SAME pipeline shape
  * ([[GasPipeline.runBatch]]: directory listing minus the ledger → CSV
  * read of the unseen files → 24 h filter → timestamp synthesis → unpivot
  * → partitioned parquet store + ledger append) over a directory of day CSVs and prints one JSON line with the
  * wall time and the long-store row count.
  *
  * Usage: `graft.IngestBench <inputDir> [cpus]` (defaults to
  * SPARK_GRAFT_CPUS or 32).
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val inputDir = args(0)
    val cpus = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_CPUS")).getOrElse("32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-ingest-bench")
    graft.util.TempDirs.deleteOnExit(work)
    val t0 = System.nanoTime()
    val files = GasPipeline.runBatch(spark, inputDir, s"$work/store", s"$work/ledger")
    val nFiles = files.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = spark.read.parquet(s"$work/store").count()
    println(
      s"""{"metric":"ingest","value":$secs,"unit":"sec","files":$nFiles,""" +
        s""""long_rows":$rows,"input":"$inputDir"}""")
    spark.stop()
  }
}
