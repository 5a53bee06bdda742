package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Barriers

/** Connected components by min-label propagation with pointer jumping, the
  * missing piece between an LSH candidate-pair list and a shippable
  * corpus-dedup verdict: a duplicate CHAIN A~B~C must collapse to one
  * canonical id even when A and C share no LSH band (single-hop
  * min-neighbor passes — tx11 — keep C).
  *
  * Algorithm: every vertex starts labelled with its own id; each iteration
  * every vertex takes the min of its own label and its neighbours' labels
  * (hop), then follows that result's own current label (jump — pointer
  * doubling, as in classic PRAM list-ranking / Stergiou-et-al. label
  * propagation): per-round reach is 2·previous+1, so the fixpoint arrives
  * in O(log diameter) rounds instead of O(diameter). Labels only ever
  * decrease, so a changed-row indicator sum strictly decreases while
  * anything moves — one cheap scalar aggregate per iteration is the
  * convergence test (no row-level diff join).
  *
  * Scale shape (100 TB): the symmetrized edge list is checkpointed
  * pre-partitioned on the join key, so each iteration shuffles ONLY the
  * (id, label) frame (|V| rows, two longs) — one `min` hash-aggregate on
  * `src` (map-side partial) + two vertex-keyed label joins. Round count is
  * log of the duplicate-cluster diameter (2-3 rounds on real corpora),
  * bounded by `maxIters`. Every frame in the loop is an eagerly
  * `localCheckpoint`ed flat leaf — iterative dataflows re-analyze the full
  * logical plan per action, and with 3 label references per round a
  * lineage-growing loop costs 3^rounds plan walks (cache() does not help:
  * it truncates execution, not analysis).
  */
object ConnectedComponents {

  /** Labels plus loop telemetry: `converged` is false iff the loop exited
    * via the `maxIters` cap with labels still moving — in which case the
    * labelling is PARTIAL (a component wider than `maxIters` hops is split)
    * and a dedup built on it would silently under-merge. */
  final case class Result(labels: DataFrame, converged: Boolean, iterations: Int)

  /** @param edges undirected edge list with long columns `src`, `dst`
    * @return one row per vertex appearing in `edges`: (`id`, `label`) where
    *         `label` is the minimum vertex id of the component
    */
  def minLabel(edges: DataFrame, maxIters: Int = 30): DataFrame =
    minLabelWithStats(edges, maxIters).labels

  def minLabelWithStats(edges: DataFrame, maxIters: Int = 30): Result = {
    // the edge list joins against the labels EVERY iteration, and every
    // frame in the loop must be a FLAT leaf: iterative dataflows re-analyze
    // the whole logical plan on every action, and with 3 label references
    // per round a lineage-growing loop re-walks 3^rounds copies of the
    // (possibly huge) upstream pipeline — caching does NOT help, it
    // truncates execution but not analysis. An eager localCheckpoint does:
    // the upstream (an LSH band join, say) runs exactly once into the
    // block store and every later plan starts from an RDD leaf. The
    // symmetrized list is checkpointed PRE-PARTITIONED on the join key
    // `dst` (explicit partition count matching the per-round join's
    // required hash distribution, preserved through the checkpoint), so
    // each round shuffles ONLY the (id, label) frame — two longs per
    // vertex — never the edge list, the one corpus-proportional frame.
    val directed = edges.select(col("src"), col("dst")).cache()
    val nPart = edges.sparkSession.sessionState.conf.numShufflePartitions
    val sym = directed
      .union(directed.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(nPart, col("dst"))
      .transform(Barriers.eager)
    directed.unpersist() // upstream ran once into the checkpoint
    var labelsCp = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .transform(Barriers.eager)
    var labels = labelsCp
    var converged = labels.isEmpty
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("label").as("dst_label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_label")).as("nbr_min"))
      // hop: min of own label and the neighbours' labels — the classic
      // propagation step, reach grows by one hop per round on its own
      val hopped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("m1"))
      // jump (pointer doubling): m1 is itself a vertex id whose CURRENT
      // label may already be far smaller — one more |V|-sized join lands on
      // label(m1), so per-round reach is 2·previous+1 and convergence takes
      // O(log diameter) rounds instead of O(diameter). At cluster scale the
      // round count is the number of edge-frame passes, so this is the
      // difference between ~5 and ~30 rounds on chain-heavy corpora.
      // labels only decrease, so `new < old` is exactly "this row changed":
      // summing the 0/1 indicator is one scalar aggregate per round, bounded
      // by |V| — overflow-proof where a raw sum(label) over ~1e9-magnitude
      // ids could wrap (ANSI: throw) and fake convergence
      val next = hopped
        .join(labels.select(col("id").as("m1"), col("label").as("m1_label")),
          Seq("m1"), "left")
        .select(col("id"),
          least(col("m1"), coalesce(col("m1_label"), col("m1"))).as("label"),
          (least(col("m1"), coalesce(col("m1_label"), col("m1"))) < col("old_label"))
            .cast("long").as("changed"))
      // truncate lineage EVERY round (eager): each round's plan is then a
      // constant-depth tree over two RDD leaves, so analysis cost stays
      // flat however many rounds run — the materialized frame is |V| rows
      // of three longs, trivial next to one plan re-walk
      val t0 = System.nanoTime()
      val stored = Barriers.eager(next)
      val nChanged = stored.agg(coalesce(sum("changed"), lit(0L)))
        .first().getLong(0)
      // round N−1's label blocks are dead once round N materializes (r17
      // — same unpersist discipline as `directed` above; released via the
      // checkpoint HANDLE, `labels` itself is a projection over it)
      Barriers.release(labelsCp)
      labelsCp = stored
      System.err.println(f"[graft] CC round ${it + 1}: changed=$nChanged " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      labels = stored.select(col("id"), col("label"))
      converged = nChanged == 0L
      it += 1
    }
    // the edge frame is dead once the loop exits — the returned labels are
    // checkpoint-backed and never re-read it (r17)
    Barriers.release(sym)
    // one stderr line per run: iteration count == component diameter is the
    // quantity the scale-up experiment tracks (PLANS.md) — a corpus whose
    // duplicate chains lengthen would show up here before it shows up in time
    System.err.println(
      s"[graft] ConnectedComponents.minLabel: converged=$converged after $it rounds")
    if (!converged)
      // loud, not silent: callers building a dedup verdict on a partial
      // labelling would otherwise under-merge with no signal anywhere
      System.err.println(
        s"[graft] ConnectedComponents.minLabel: iteration cap $maxIters hit " +
          "before the label fixpoint — labels are PARTIAL (component " +
          "diameter exceeds maxIters); raise maxIters")
    Result(labels, converged, it)
  }
}
