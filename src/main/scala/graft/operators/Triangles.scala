package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Barriers

/** Exactly-once distributed triangle enumeration over an undirected edge
  * list — the "compact forward" / degree-ordered-orientation algorithm
  * (Latapy 2008; the shape every production triangle count uses).
  *
  * Each edge is oriented from its (degree, id)-smaller endpoint; wedges
  * are enumerated at each oriented edge's source, ordered by the same
  * (degree, id) key; a wedge (u; v, w) closes into a triangle iff
  * (v, w) is itself an oriented edge. With a total order on vertices
  * every triangle is found exactly once, at its order-minimal vertex.
  *
  * Scale argument: the wedge fan-out is Σ out-deg², and orienting by
  * degree bounds out-degree by the graph's degeneracy — a hub's edges
  * all point INTO it, so the hub never centers a wedge. This is the
  * textbook reason the algorithm survives power-law degree
  * distributions where naive id-ordered orientation explodes. Every
  * join in the plan carries narrow (id, id[, deg]) frames; payloads
  * (e.g. embeddings) must be projected away by the caller first.
  */
object Triangles {

  /** Per-vertex triangle participation counts.
    *
    * @param edges undirected edge list with long columns `a`, `b`,
    *              deduped, a < b (one row per edge)
    * @return (id, n_tri) for every vertex in at least one triangle
    */
  def perVertexCounts(edges: DataFrame): DataFrame = {
    // `edges` is referenced THREE times below (once directly, twice via
    // the degree union) — with an LSH candidate generator upstream the
    // oriented-list materialization job would re-derive the whole pair
    // pipeline per reference (r17; the oe barrier below only deduped the
    // CONSUMERS of oe, not oe's own build). One narrow (a, b) barrier,
    // released as soon as oe is at rest.
    val e0 = Barriers.eager(edges)
    val deg = e0.select(col("a").as("id"))
      .union(e0.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // the oriented edge list is consumed THREE times (both wedge sides
    // and the closure semi-join); without a materialization barrier
    // Catalyst re-plans the whole upstream per consumer — with an LSH
    // candidate generator feeding `edges` that meant 60 FileScans and a
    // 6×-replicated pair pipeline (plan-audited). The frame is narrow
    // (u, v, deg) — one eager localCheckpoint, every consumer reads it.
    val oe = e0
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .withColumn("fwd",
        struct(col("da"), col("a")) < struct(col("db"), col("b")))
      .select(
        when(col("fwd"), col("a")).otherwise(col("b")).as("u"),
        when(col("fwd"), col("b")).otherwise(col("a")).as("v"),
        when(col("fwd"), col("db")).otherwise(col("da")).as("vdeg"))
      .transform(Barriers.eager)
    // the raw pair list is dead once the oriented list is at rest
    Barriers.release(e0)
    val wedges = oe.select(col("u"), col("v").as("v1"), col("vdeg").as("d1"))
      .join(oe.select(col("u"), col("v").as("v2"), col("vdeg").as("d2")), "u")
      .filter(struct(col("d1"), col("v1")) < struct(col("d2"), col("v2")))
      .select(col("u"), col("v1").as("v"), col("v2").as("w"))
    val tri = wedges.join(
      oe.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"), "left_semi")
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
  }
}
