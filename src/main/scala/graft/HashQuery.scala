package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Result-identity probe: print an order-insensitive content checksum of
  * named registered queries against SPARK_GRAFT_SF_DIR. The tool behind
  * "bit-identical across execution regimes" claims (round-13: the fixed-32
  * vs size-derived shuffle-partition A/B) — run the same query under two
  * regimes (SPARK_GRAFT_INITIAL_PARTITIONS), diff the checksums.
  *
  * Checksum = int64-wrapping SUM over xxhash64 of each row's canonical
  * JSON (columns sorted by name), plus the row count — commutative, so
  * partitioning/order differences can't move it; any VALUE difference
  * does. Distributed end to end: nothing collects but the two aggregates.
  */
object HashQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val initialParts = graft.util.StressSession.initialPartitions(sfDir, cpus.toInt)
    val spark = graft.util.StressSession.builder(sfDir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val cols = df.columns.sorted.map(c => col(s"`$c`"))
      // decimal(38,0) sum: ANSI-safe (no int64 overflow) and exact;
      // bit_xor rides along as an independent fold of the same hashes
      val r = df
        .select(xxhash64(to_json(struct(cols: _*))).as("h"))
        .agg(sum(col("h").cast("decimal(38,0)")).as("checksum"),
          expr("bit_xor(h)").as("xorsum"), count(lit(1)).as("rows"))
        .collect()(0)
      println(s"""{"query":"$name","sf":"$sfDir","initial_partitions":$initialParts,"checksum":"${r.get(0)}","xor":${r.get(1)},"rows":${r.get(2)}}""")
    }
    spark.stop()
  }
}
