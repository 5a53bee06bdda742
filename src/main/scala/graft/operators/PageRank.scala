package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Barriers

/** PageRank over an undirected similarity graph (Brin & Page 1998) in pure
  * INTEGER arithmetic — the graph-centrality leg of the dedup/similarity
  * toolkit: given the LSH near-neighbour pair list, rank each vector by how
  * central it is in the similarity graph (canonical-representative
  * selection, hub detection in crawl link graphs, influence weighting for
  * sampling).
  *
  * Determinism: classic PageRank iterates IEEE doubles whose sums are
  * order-dependent — unusable under a bit-exact oracle. Here rank mass is
  * an integer (`scale` = 1.0 of mass), the per-edge share is floor
  * division `rank div deg`, and the damping multiply is
  * `(dampNum · inflow) div 100` — every step exact 64-bit integer
  * arithmetic, associative and engine-independent. Mass floor-leaks a few
  * units per division (bounded by |E| per round, ~1e-7 relative at the
  * 1e12 scale), which is a deterministic quantization, not drift.
  *
  * Scale shape (100 TB): the symmetrized edge list is eagerly
  * `localCheckpoint`ed once, pre-partitioned on the join key `src` — the
  * per-round cost is ONE broadcast-sized (id, share) join against it plus
  * one `dst`-keyed sum (map-side partial), exactly the
  * [[ConnectedComponents]] loop shape: each round shuffles only the
  * |V|-row rank frame, never the edge list. Overflow headroom: inflow ≤
  * |V| · scale, so dampNum · inflow stays inside Long for |V| up to ~1e5
  * at the default 1e12 scale; larger graphs lower `scale` (the algorithm
  * only needs ~6 significant digits).
  */
object PageRank {

  /** @param edges undirected distinct edge list with long columns
    *              `src`, `dst` (each pair listed once, either direction)
    * @return one row per vertex appearing in `edges`:
    *         (`id`, `deg`, `rank`) with `rank` an integer in `scale` units
    *         (initial mass = `scale` per vertex, damping = dampNum/100)
    */
  def integerRanks(edges: DataFrame, iters: Int = 3,
      scale: Long = 1000000000000L, dampNum: Int = 85): DataFrame = {
    require(scale % 100 == 0, "scale must be divisible by 100")
    val nPart = edges.sparkSession.sessionState.conf.numShufflePartitions
    val directed = edges.select(col("src"), col("dst")).cache()
    val sym = directed
      .union(directed.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(nPart, col("src"))
      .transform(Barriers.eager)
    directed.unpersist() // upstream (LSH band join, say) ran exactly once
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      .transform(Barriers.eager)
    // Enforce the documented headroom instead of silently wrapping:
    // worst-case inflow ≤ |V|·scale, and the damping multiply needs
    // dampNum·inflow inside Long. deg is already checkpointed and
    // |V|-row, so this count is a cheap driver-side metadata read.
    val nV = deg.count()
    require(nV <= Long.MaxValue / scale / dampNum,
      s"PageRank integer arithmetic would overflow: |V|=$nV exceeds " +
        s"${Long.MaxValue / scale / dampNum} at scale=$scale, " +
        s"dampNum=$dampNum — lower `scale` (the ranks only need ~6 " +
        "significant digits)")
    val base = scale / 100 * (100 - dampNum)
    var ranks = deg.withColumn("rank", lit(scale))
    for (_ <- 1 to iters) {
      // share out = floor(rank / deg); inflow = sum over in-neighbours.
      // The graph is symmetric so every vertex has inbound edges, but the
      // left join + coalesce keeps the operator total for directed input.
      val inflow = sym
        .join(ranks.select(col("id").as("src"),
          expr("rank div deg").as("share")), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("share")).as("inflow"))
      ranks = deg.join(inflow, Seq("id"), "left")
        .withColumn("rank",
          lit(base) + expr(s"($dampNum * coalesce(inflow, 0L)) div 100"))
        .select(col("id"), col("deg"), col("rank"))
    }
    ranks
  }
}
