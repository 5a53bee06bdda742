package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Result-identity probe: print an order-insensitive content checksum of
  * named registered queries against SPARK_GRAFT_SF_DIR, on the query
  * session ([[graft.util.Sessions.query]]). The tool behind
  * "bit-identical across execution regimes" claims (round-13: the fixed-32
  * vs size-derived shuffle-partition A/B) — run the same query under two
  * regimes (SPARK_GRAFT_CONF with
  * `spark.sql.adaptive.coalescePartitions.initialPartitionNum=<n>`), diff
  * the checksums.
  *
  * Checksum = int64-wrapping SUM over xxhash64 of each row's canonical
  * JSON (columns sorted by name), plus the row count — commutative, so
  * partitioning/order differences can't move it; any VALUE difference
  * does. Distributed end to end: nothing collects but the two aggregates.
  */
object HashQuery {

  /** One row (checksum, xorsum, rows): decimal(38,0) sum (ANSI-safe, no
    * int64 overflow, exact) of the per-row hashes, bit_xor riding along as
    * an independent fold of the same hashes, and the row count. */
  def checksum(df: DataFrame): Row = {
    val cols = df.columns.sorted.toSeq.map(c => col(s"`$c`"))
    df.select(xxhash64(to_json(struct(cols: _*))).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).as("checksum"),
        expr("bit_xor(h)").as("xorsum"), count(lit(1)).as("rows"))
      .collect()(0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Sessions.run(Sessions.query(sfDir, Sessions.cpus(32))) { spark =>
      val initialParts = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      args.foreach { name =>
        val r = checksum(SparkEntry.queries(name)(spark, sfDir))
        println(s"""{"query":"$name","sf":"$sfDir","initial_partitions":$initialParts,"checksum":"${r.get(0)}","xor":${r.get(1)},"rows":${r.get(2)}}""")
      }
    }
  }
}
