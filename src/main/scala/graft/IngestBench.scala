package graft

import java.nio.file.Files

import graft.util.Sessions

/** Ingest benchmark against the reference's ETL envelope (BASELINE.md):
  * the reference pushes ≈4 M rows × 20 cols through
  * discover → dedup-check → transform → load inside a 10-minute Airflow
  * DAG timeout. This main runs the SAME pipeline shape
  * ([[GasPipeline.runBatch]]: directory listing minus the ledger → CSV
  * read of the unseen files → 24 h filter → timestamp synthesis → unpivot
  * → partitioned parquet store + ledger append) over a directory of day CSVs and prints one JSON line with the
  * wall time and the long-store row count.
  *
  * Usage: `graft.IngestBench <inputDir>` on `SPARK_GRAFT_CPUS` cores
  * (default 32).
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val inputDir = args(0)
    Sessions.run(Sessions.pipeline(Sessions.cpus(32))) { spark =>
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
    }
  }
}
