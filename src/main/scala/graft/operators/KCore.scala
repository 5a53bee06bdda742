package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Barriers

/** k-core decomposition by FIXED-ROUND peeling — the graph-cohesion
  * measure that separates a dense community (every member has ≥ k
  * neighbors inside the group) from incidental connectivity; with
  * PageRank (centrality) and triangle counts (local clustering) it
  * completes the standard graph-diagnostic trio over an ANN pair graph.
  *
  * Peeling: drop every vertex whose CURRENT degree < k, restrict the
  * edge set to survivors, repeat. The round count is FIXED (part of the
  * operator's definition, replayed verbatim by the SQL oracle) rather
  * than loop-until-converged: once peeling stabilizes, further rounds
  * are no-ops, so a fixed count ≥ the convergence depth yields the true
  * k-core — and keeps the two engines bit-identical BY CONSTRUCTION
  * even if it were ever cut short. Production exposes the round count
  * as a dial; the spec asserts observed convergence on the fixture.
  *
  * Scale shape: each round is one degree aggregate plus two semi-joins,
  * all on narrow (id, id) frames hash-keyed by vertex; each round's
  * survivor edge set is checkpointed (the CC/Triangles lesson — three
  * rounds of consumers would otherwise re-derive the whole upstream
  * candidate generator per round, geometrically).
  */
object KCore {

  /** Vertices of the k-core with their within-core degree.
    *
    * @param edges  undirected edge list, long columns `a`, `b`, deduped,
    *               a < b
    * @param k      minimum within-core degree
    * @param rounds fixed peel count (must cover the convergence depth;
    *               extra rounds are no-ops)
    * @return (id, core_deg) for every vertex in the k-core
    */
  def core(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // `edges` is consumed by BOTH union branches — with an LSH candidate
    // generator upstream, sym0's materialization job re-derived the whole
    // pair pipeline twice (r17). One narrow (a, b) barrier, released as
    // soon as the symmetrized list is at rest.
    val e0 = Barriers.eager(edges)
    val sym0 = e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
      .transform(Barriers.eager)
    Barriers.release(e0)
    val surviving = Barriers.iterate(sym0, rounds) { sym =>
      val keep = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("id"))
      sym
        .join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
    }
    surviving.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("core_deg"))
  }
}
