package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Barriers

/** Similarity search over `embeddings.embedding: array<float>` (north-star
  * scope, SURVEY.md §2.12).
  *
  * v01 is the brute-force cosine top-k baseline: the (small) query set is
  * broadcast, so the candidate side streams through map-side only — no
  * shuffle of the big table; cost is O(|queries| × |corpus| × dim). At
  * 100 TB the corpus side stays partition-parallel and the only reduction
  * is the per-query top-k (a tiny shuffle keyed on query id). The scale
  * path beyond brute force is LSH bucketing (see TextOps MinHash for the
  * banding pattern) or IVF: cluster → probe nearest cells only.
  *
  * All arithmetic is double-precision ordered folds; results are rounded to
  * 6 decimals before ranking so Spark and the DuckDB oracle rank ties
  * identically.
  */
object VectorOps {

  private[graft] def emb(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .withColumn("emb", col("embedding").cast("array<double>"))
      .withColumn("norm", expr("sqrt(aggregate(emb, 0D, (acc, x) -> acc + x * x))"))

  /** Brute-force cosine top-k of `corpus` rows for each `queries` row.
    * The dot product is the codegen'd [[graft.functions.DotProduct]] — same
    * sequential-fold numerics as the zip_with/aggregate HOF chain, but a
    * single tight loop inside whole-stage codegen.
    *
    * Ranking uses the typed [[graft.functions.TopKAggregator]] as a
    * partial/final aggregate: each map task keeps only its local top-k per
    * query, so the shuffle carries O(queries × partitions × k) rows — the
    * window-function form would shuffle and sort EVERY candidate pair.
    * Ties break on c_id, so results are byte-identical to `row_number`
    * over (sim DESC, c_id). */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(k))
    fanout(corpus)
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dot", expr("graft_dot(qe, emb)"))
      .withColumn("sim", round(col("dot") / (col("qn") * col("norm")), 6))
      .groupBy(col("q_id"))
      .agg(topk(col("vec_id"), col("sim")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rnk"),
        col("s.c_id").as("c_id"), col("s.sim").as("sim"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Run a builder on a child session with the ObjectHashAggregate
    * sort-fallback threshold raised to 65,536 in-memory groups.
    *
    * Spark's 128-group default exists for UNBOUNDED collect-style
    * aggregation buffers; once a task sees more groups it abandons
    * hashing and SORTS the aggregate's entire input. For queries whose
    * only object-hash aggregate is the k-BOUNDED [[graft.functions
    * .TopKAggregator]] (panel-sized group counts × O(k) state = a few MB)
    * that sort is pure waste: at the 128× rung it was 5.5–14 GB of disk
    * spill per query (v17/v32/v33/v12), all eliminated by this scoping,
    * v17 36% faster (SWEEP13.json). Scoped HERE — a structural property
    * of the aggregator these builders use — and NOT as an engine-wide
    * default, because unbounded buffers genuinely need the conservative
    * fallback: q38's block-collect aggregate ran >2× slower under a
    * blanket raise. The child session (q40's staging discipline) keeps
    * the setting invisible to every other query, including concurrent
    * ones (ConcurrencySpec). A child session starts from the parent's
    * extensions, not its registered functions, so it gets the native
    * functions here when the parent has no GraftExtensions. */
  private[graft] def withHashAggBudget(f: Q): Q = (s, dir) => {
    val s2 = s.newSession()
    graft.functions.VectorFunctions.ensure(s2)
    s2.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "65536")
    f(s2, dir)
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("v01_cosine_topk", (s, dir) => {
      val e = emb(s, dir)
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("norm").as("qn"))
      cosineTopK(e, qs, 5)
    },
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM e WHERE vec_id % 100 = 0),
        |p AS (
        |  SELECT q_id, vec_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM e, q WHERE vec_id <> q_id),
        |r AS (
        |  SELECT q_id, vec_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
        |  FROM p)
        |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id AS c_id, sim
        |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),

    // per-label centroids: posexplode → (label, dim) mean — one hash agg
    QuerySpec("v02_label_centroids", (s, dir) =>
      emb(s, dir)
        .select(col("label"), posexplode(col("emb")).as(Seq("pos", "val")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(round(avg(col("val")), 6).as("centroid"), count(lit(1)).as("n"))
        .orderBy(col("label"), col("pos")),
      """SELECT label, CAST(sub - 1 AS BIGINT) AS pos,
        |  ROUND(AVG(val), 6) AS centroid, COUNT(*) AS n
        |FROM (SELECT label, unnest(embedding::DOUBLE[]) AS val,
        |        generate_subscripts(embedding, 1) AS sub FROM embeddings)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin),
    // LSH-bucketed near-dup (the ANN scale path): see [[lshPairs]].
    // Density-scaled width (derives the original (16,4,4) at gate scale —
    // oracle unchanged); 62-plane budget keeps all 4 bands at any width.
    QuerySpec("v03_ann_lsh", (s, dir) =>
      lshPairsScaled(emb(s, dir), maxBands = 4, planesBudget = 62)
        .orderBy(col("vec_a"), col("vec_b")),
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |s AS (SELECT vec_id, emb, norm,
        |  CAST(list_sum(list_transform(range(0, 16), i ->
        |    CASE WHEN list_sum(list_transform(range(0, 64), j ->
        |      emb[CAST(j + 1 AS INT)] * ((73856093::BIGINT * (i + 1) * (j + 7)) % 2001 - 1000)))
        |    >= 0 THEN (1 << CAST(i AS INT)) ELSE 0 END)) AS INT) AS sig FROM e),
        |bands AS (SELECT vec_id, b, (sig >> CAST(4 * b AS INT)) & 15 AS bv
        |          FROM s, range(0, 4) t(b)),
        |p AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        |      FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv AND a.vec_id < c.vec_id),
        |x AS (SELECT vec_a, vec_b,
        |        round(list_dot_product(ea.emb, eb.emb) / (ea.norm * eb.norm), 6) AS sim
        |      FROM p JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b)
        |SELECT vec_a, vec_b, sim FROM x WHERE sim >= 0.3 ORDER BY vec_a, vec_b""".stripMargin),

    // ANN quality measurement: recall of the LSH path (v03's pipeline)
    // against exact all-pairs ground truth at the same sim >= 0.3
    // threshold, on a deterministic 1/3 sample of the corpus. The exact
    // side is a sampled cross join — a diagnostic run, not a production
    // path: recall is measured on a bounded sample precisely so the
    // O(n²) ground truth stays affordable while the LSH path under test
    // is the same linear-scale pipeline as v03.
    QuerySpec("v04_ann_recall", (s, dir) => {
      val e = recallSample(s, dir)
      val a = e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
        col("norm").as("norm_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
        col("norm").as("norm_b"))
      val exact = a.crossJoin(broadcast(b))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("sim",
          round(expr("graft_dot(emb_a, emb_b)") / (col("norm_a") * col("norm_b")), 6))
        .filter(col("sim") >= 0.3)
        .select(col("vec_a"), col("vec_b"))
      val lsh = lshPairs(e).select(col("vec_a"), col("vec_b"))
      val hit = lsh.join(exact, Seq("vec_a", "vec_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
    },
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings WHERE vec_id % 3 = 0),
        |s AS (SELECT vec_id, emb, norm,
        |  CAST(list_sum(list_transform(range(0, 16), i ->
        |    CASE WHEN list_sum(list_transform(range(0, 64), j ->
        |      emb[CAST(j + 1 AS INT)] * ((73856093::BIGINT * (i + 1) * (j + 7)) % 2001 - 1000)))
        |    >= 0 THEN (1 << CAST(i AS INT)) ELSE 0 END)) AS INT) AS sig FROM e),
        |bands AS (SELECT vec_id, b, (sig >> CAST(4 * b AS INT)) & 15 AS bv
        |          FROM s, range(0, 4) t(b)),
        |p AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        |      FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv AND a.vec_id < c.vec_id),
        |lsh AS (SELECT vec_a, vec_b
        |        FROM (SELECT vec_a, vec_b,
        |                round(list_dot_product(ea.emb, eb.emb) / (ea.norm * eb.norm), 6) AS sim
        |              FROM p JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b)
        |        WHERE sim >= 0.3),
        |exact AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |          FROM e a, e b
        |          WHERE a.vec_id < b.vec_id
        |            AND round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) >= 0.3),
        |hit AS (SELECT vec_a, vec_b FROM lsh l WHERE EXISTS
        |  (SELECT 1 FROM exact x WHERE x.vec_a = l.vec_a AND x.vec_b = l.vec_b))
        |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
        |  (SELECT COUNT(*) FROM lsh) AS n_lsh,
        |  (SELECT COUNT(*) FROM hit) AS n_hit,
        |  ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
        |      / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin),

    // PRODUCTION-recall ANN configuration: the same LSH pipeline as v03/v04
    // with the dial turned to production quality — 60 planes in 15 4-bit
    // bands instead of 16 planes in 4 bands. Measured on the same ground
    // truth as v04: recall 0.936 (vs 0.512 baseline) for ~2.6× the
    // candidate volume (n_cand column = pairs exact-scored, the cost).
    // An IVF-side sweep showed the label-centroid quantizer CAPS at 0.88
    // recall even probing 8/10 cells, so the band dial is the right one.
    // Scale shape unchanged: signatures map-side, one (band, value)-keyed
    // shuffle, bands multiply shuffle volume linearly, never O(n²).
    QuerySpec("v07_ann_recall_hi", (s, dir) => {
      val e = recallSample(s, dir)
      val a = e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
        col("norm").as("norm_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
        col("norm").as("norm_b"))
      val exact = a.crossJoin(broadcast(b))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("sim",
          round(expr("graft_dot(emb_a, emb_b)") / (col("norm_a") * col("norm_b")), 6))
        .filter(col("sim") >= 0.3)
        .select(col("vec_a"), col("vec_b"))
      val cand = lshCandidates(e, planes = 60, bands = 15, width = 4)
      val lsh = cand
        .withColumn("sim",
          round(expr("graft_dot(emb_a, emb_b)") / (col("norm_a") * col("norm_b")), 6))
        .filter(col("sim") >= 0.3)
        .select(col("vec_a"), col("vec_b"))
      val hit = lsh.join(exact, Seq("vec_a", "vec_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
    },
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings WHERE vec_id % 3 = 0),
        |s AS (SELECT vec_id, emb, norm,
        |  CAST(list_sum(list_transform(range(0, 60), i ->
        |    CASE WHEN list_sum(list_transform(range(0, 64), j ->
        |      emb[CAST(j + 1 AS INT)] * ((73856093::BIGINT * (i + 1) * (j + 7)) % 2001 - 1000)))
        |    >= 0 THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS sig FROM e),
        |bands AS (SELECT vec_id, b, (sig >> CAST(4 * b AS INT)) & 15 AS bv
        |          FROM s, range(0, 15) t(b)),
        |p AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        |      FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv AND a.vec_id < c.vec_id),
        |lsh AS (SELECT vec_a, vec_b
        |        FROM (SELECT vec_a, vec_b,
        |                round(list_dot_product(ea.emb, eb.emb) / (ea.norm * eb.norm), 6) AS sim
        |              FROM p JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b)
        |        WHERE sim >= 0.3),
        |exact AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |          FROM e a, e b
        |          WHERE a.vec_id < b.vec_id
        |            AND round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) >= 0.3),
        |hit AS (SELECT vec_a, vec_b FROM lsh l WHERE EXISTS
        |  (SELECT 1 FROM exact x WHERE x.vec_a = l.vec_a AND x.vec_b = l.vec_b))
        |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
        |  (SELECT COUNT(*) FROM p) AS n_cand,
        |  (SELECT COUNT(*) FROM lsh) AS n_lsh,
        |  (SELECT COUNT(*) FROM hit) AS n_hit,
        |  ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
        |      / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin),

    // HIGH-recall ANN point completing the recall/cost curve
    // (v04 0.512 → v07 0.936 → v08 ≥0.95): v07's 60-plane/15-band pipeline
    // plus MULTI-PROBE — each band also probes its four 1-bit-flip
    // neighbour buckets, lifting per-band collision from p⁴ to
    // p⁴ + 4p³(1-p) with zero extra data at rest and no new shuffle
    // stages (the probe fan-out lives only inside the existing
    // (band, value) exchange). n_cand is the cost column: pairs
    // exact-scored, the price of the last recall decile.
    QuerySpec("v08_ann_recall_probe", (s, dir) => {
      val e = recallSample(s, dir)
      val a = e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
        col("norm").as("norm_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
        col("norm").as("norm_b"))
      val exact = a.crossJoin(broadcast(b))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("sim",
          round(expr("graft_dot(emb_a, emb_b)") / (col("norm_a") * col("norm_b")), 6))
        .filter(col("sim") >= 0.3)
        .select(col("vec_a"), col("vec_b"))
      val cand = lshCandidates(e, planes = 60, bands = 15, width = 4,
        multiProbe = true)
      val lsh = cand
        .withColumn("sim",
          round(expr("graft_dot(emb_a, emb_b)") / (col("norm_a") * col("norm_b")), 6))
        .filter(col("sim") >= 0.3)
        .select(col("vec_a"), col("vec_b"))
      val hit = lsh.join(exact, Seq("vec_a", "vec_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
    },
      // v07's replay plus a `probes` CTE (band values ∪ their four 1-bit
      // flips) on one join side — Hamming ≤ 1 band collisions, same as the
      // engine's multi-probe
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings WHERE vec_id % 3 = 0),
        |s AS (SELECT vec_id, emb, norm,
        |  CAST(list_sum(list_transform(range(0, 60), i ->
        |    CASE WHEN list_sum(list_transform(range(0, 64), j ->
        |      emb[CAST(j + 1 AS INT)] * ((73856093::BIGINT * (i + 1) * (j + 7)) % 2001 - 1000)))
        |    >= 0 THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS sig FROM e),
        |bands AS (SELECT vec_id, b, (sig >> CAST(4 * b AS INT)) & 15 AS bv
        |          FROM s, range(0, 15) t(b)),
        |probes AS (SELECT vec_id, b, bv FROM bands
        |           UNION ALL
        |           SELECT vec_id, b, xor(bv, 1 << CAST(k AS INT)) AS bv
        |           FROM bands, range(0, 4) f(k)),
        |p AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        |      FROM bands a JOIN probes c ON a.b = c.b AND a.bv = c.bv AND a.vec_id < c.vec_id),
        |lsh AS (SELECT vec_a, vec_b
        |        FROM (SELECT vec_a, vec_b,
        |                round(list_dot_product(ea.emb, eb.emb) / (ea.norm * eb.norm), 6) AS sim
        |              FROM p JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b)
        |        WHERE sim >= 0.3),
        |exact AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |          FROM e a, e b
        |          WHERE a.vec_id < b.vec_id
        |            AND round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) >= 0.3),
        |hit AS (SELECT vec_a, vec_b FROM lsh l WHERE EXISTS
        |  (SELECT 1 FROM exact x WHERE x.vec_a = l.vec_a AND x.vec_b = l.vec_b))
        |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
        |  (SELECT COUNT(*) FROM p) AS n_cand,
        |  (SELECT COUNT(*) FROM lsh) AS n_lsh,
        |  (SELECT COUNT(*) FROM hit) AS n_hit,
        |  ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
        |      / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin),

    // The PRODUCTION near-dup pair query at the measured-1.0-recall
    // configuration (v08's dial: 60 planes / 15×4-bit bands + 1-bit
    // multi-probe), over the FULL corpus — what a user actually ships
    // once the v04→v07→v08 curve has picked the operating point. Unlike
    // v07/v08 (recall DIAGNOSTICS, whose exact ground-truth side is
    // |panel|² on the scale-capped recallSample panel), this is the
    // linear-scale
    // pipeline alone: map-side signatures, one (band, value)-keyed
    // shuffle, id-only candidate dedup, broadcast payload re-attach,
    // codegen'd exact scoring. This is also the query the 32×/64×
    // scale-up experiment times (PLANS.md).
    QuerySpec("v09_ann_pairs_hi", (s, dir) =>
      // density-scaled width (derives (60,15,4) at gate scale — oracle
      // unchanged): the fix for this query's historical 32× out-of-disk
      // DNF (VLADDER provenance) — candidate volume is now linear in n
      lshPairsScaled(emb(s, dir), maxBands = 15, planesBudget = 60,
        multiProbe = true).orderBy(col("vec_a"), col("vec_b")),
      // v08's signature/probe replay over the FULL corpus, emitting the
      // thresholded pair list itself (the production output)
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |s AS (SELECT vec_id, emb, norm,
        |  CAST(list_sum(list_transform(range(0, 60), i ->
        |    CASE WHEN list_sum(list_transform(range(0, 64), j ->
        |      emb[CAST(j + 1 AS INT)] * ((73856093::BIGINT * (i + 1) * (j + 7)) % 2001 - 1000)))
        |    >= 0 THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS sig FROM e),
        |bands AS (SELECT vec_id, b, (sig >> CAST(4 * b AS INT)) & 15 AS bv
        |          FROM s, range(0, 15) t(b)),
        |probes AS (SELECT vec_id, b, bv FROM bands
        |           UNION ALL
        |           SELECT vec_id, b, xor(bv, 1 << CAST(k AS INT)) AS bv
        |           FROM bands, range(0, 4) f(k)),
        |p AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        |      FROM bands a JOIN probes c ON a.b = c.b AND a.bv = c.bv AND a.vec_id < c.vec_id),
        |x AS (SELECT vec_a, vec_b,
        |        round(list_dot_product(ea.emb, eb.emb) / (ea.norm * eb.norm), 6) AS sim
        |      FROM p JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b)
        |SELECT vec_a, vec_b, sim FROM x WHERE sim >= 0.3 ORDER BY vec_a, vec_b""".stripMargin),

    // EMBEDDING-COSINE NEAR-DUP DEDUP — the vector-side twin of tx14: v09's
    // production pair list (cosine ≥ 0.3 through the measured-1.0-recall
    // multi-probe LSH dial) collapsed to transitive duplicate groups by
    // ConnectedComponents, so a chain of embedding near-dups A~B~C maps to
    // ONE canonical vector even when A and C never share a bucket. This is
    // the semantic-dedup pass of an LLM data pipeline (drop paraphrases /
    // re-encodings that string-level MinHash can't see). Cost on top of v09:
    // 2-3 label-propagation rounds over the (vec_id, label) frame — two
    // vertex-keyed shuffles of two longs per round, nothing corpus-sized.
    QuerySpec("v10_embedding_dedup", (s, dir) => {
      // density-scaled width (gate scale derives the original (60,15,4)
      // dials exactly — oracle unchanged); fixed width was the ladder's
      // 32× DNF
      val pairs = lshPairsScaled(emb(s, dir), maxBands = 15,
        planesBudget = 60, multiProbe = true)
        .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      val comp = graft.operators.ConnectedComponents.minLabel(pairs)
      emb(s, dir).select(col("vec_id"))
        .join(comp.select(col("id").as("vec_id"), col("label")), Seq("vec_id"), "left")
        .withColumn("canonical_id", coalesce(col("label"), col("vec_id")))
        .withColumn("is_kept", col("canonical_id") === col("vec_id"))
        .select(col("vec_id"), col("canonical_id"), col("is_kept"))
        .orderBy(col("vec_id"))
    },
      // v09's pair replay + transitive closure to the per-component minimum
      // id (same WITH RECURSIVE reachability shape as tx14's oracle), left
      // joined back so singleton vectors keep themselves
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |s AS (SELECT vec_id, emb, norm,
        |  CAST(list_sum(list_transform(range(0, 60), i ->
        |    CASE WHEN list_sum(list_transform(range(0, 64), j ->
        |      emb[CAST(j + 1 AS INT)] * ((73856093::BIGINT * (i + 1) * (j + 7)) % 2001 - 1000)))
        |    >= 0 THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS sig FROM e),
        |bands AS (SELECT vec_id, b, (sig >> CAST(4 * b AS INT)) & 15 AS bv
        |          FROM s, range(0, 15) t(b)),
        |probes AS (SELECT vec_id, b, bv FROM bands
        |           UNION ALL
        |           SELECT vec_id, b, xor(bv, 1 << CAST(k AS INT)) AS bv
        |           FROM bands, range(0, 4) f(k)),
        |p AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        |      FROM bands a JOIN probes c ON a.b = c.b AND a.bv = c.bv AND a.vec_id < c.vec_id),
        |pairs AS (SELECT vec_a AS src, vec_b AS dst
        |          FROM (SELECT vec_a, vec_b,
        |                  round(list_dot_product(ea.emb, eb.emb) / (ea.norm * eb.norm), 6) AS sim
        |                FROM p JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b)
        |          WHERE sim >= 0.3),
        |sym AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM sym),
        |reach(id, r) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT sm.src, reach.r FROM sym sm JOIN reach ON sm.dst = reach.id),
        |comp AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id)
        |SELECT em.vec_id, COALESCE(comp.label, em.vec_id) AS canonical_id,
        |  COALESCE(comp.label, em.vec_id) = em.vec_id AS is_kept
        |FROM embeddings em LEFT JOIN comp ON comp.id = em.vec_id
        |ORDER BY em.vec_id""".stripMargin),

    // IVF (inverted-file) ANN — the other classic scale path next to LSH
    // (v03): a coarse quantizer (per-label centroids, the same aggregate as
    // v02, rounded so it is bit-identical across engines/partitionings)
    // partitions the corpus into cells; each query probes only its 2
    // nearest cells, so exact scoring touches ~2/10 of the corpus.
    //
    // Scale shape: centroids are a tiny broadcast (k entries — k is always
    // metadata-sized for IVF); cell assignment is 10 map-side dot products
    // per row reduced by ONE compact groupBy(vec_id) max-struct aggregate
    // (no 10× window shuffle, partial combine applies); the probe set is
    // filtered to queries BEFORE any window; the candidate join broadcasts
    // the probes so the corpus side never shuffles at all.
    QuerySpec("v05_ivf_ann", (s, dir) =>
      ivfTopK(emb(s, dir)).orderBy(col("q_id"), col("rnk")),
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |cd AS (
        |  SELECT label, sub AS pos, ROUND(AVG(val), 6) AS cv
        |  FROM (SELECT label, unnest(embedding::DOUBLE[]) AS val,
        |          generate_subscripts(embedding, 1) AS sub FROM embeddings)
        |  GROUP BY label, sub),
        |cent AS (
        |  SELECT label AS clabel, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnorm
        |  FROM (SELECT label, list(cv ORDER BY pos) AS cvec FROM cd GROUP BY label)),
        |sims AS (
        |  SELECT vec_id, emb, norm, clabel,
        |    ROUND(list_dot_product(emb, cvec) / (norm * cnorm), 6) AS csim
        |  FROM e, cent),
        |assign AS (
        |  SELECT vec_id, emb, norm, clabel AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, clabel) AS crn FROM sims)
        |  WHERE crn = 1),
        |probes AS (
        |  SELECT vec_id AS q_id, emb AS qe, norm AS qn, clabel AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, clabel) AS crn FROM sims WHERE vec_id % 100 = 0)
        |  WHERE crn <= 2),
        |cand AS (
        |  SELECT q_id, vec_id AS c_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM assign JOIN probes USING (cell) WHERE vec_id <> q_id),
        |r AS (
        |  SELECT q_id, c_id, sim, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS rnk FROM cand)
        |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, sim
        |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),

    // IVF quality measurement, symmetric to v04's LSH recall: fraction of
    // the exact brute-force top-5 (v01's ground truth) that the 2-probe IVF
    // path recovers. Misses are exactly the true neighbours living outside
    // the probed cells — the nprobe dial's cost made visible.
    QuerySpec("v06_ivf_recall", (s, dir) => {
      val e = emb(s, dir)
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("norm").as("qn"))
      val exact = cosineTopK(e, qs, 5).select(col("q_id"), col("c_id"))
      val approx = ivfTopK(e).select(col("q_id"), col("c_id"))
      val hit = approx.join(exact, Seq("q_id", "c_id"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .withColumn("recall_at_5",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
    },
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM e WHERE vec_id % 100 = 0),
        |px AS (
        |  SELECT q_id, vec_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM e, q WHERE vec_id <> q_id),
        |rx AS (
        |  SELECT q_id, vec_id AS c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, vec_id) AS rnk FROM px),
        |exact AS (SELECT q_id, c_id FROM rx WHERE rnk <= 5),
        |cd AS (
        |  SELECT label, sub AS pos, ROUND(AVG(val), 6) AS cv
        |  FROM (SELECT label, unnest(embedding::DOUBLE[]) AS val,
        |          generate_subscripts(embedding, 1) AS sub FROM embeddings)
        |  GROUP BY label, sub),
        |cent AS (
        |  SELECT label AS clabel, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnorm
        |  FROM (SELECT label, list(cv ORDER BY pos) AS cvec FROM cd GROUP BY label)),
        |sims AS (
        |  SELECT vec_id, emb, norm, clabel,
        |    ROUND(list_dot_product(emb, cvec) / (norm * cnorm), 6) AS csim
        |  FROM e, cent),
        |assign AS (
        |  SELECT vec_id, emb, norm, clabel AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, clabel) AS crn FROM sims)
        |  WHERE crn = 1),
        |probes AS (
        |  SELECT vec_id AS q_id, emb AS qe, norm AS qn, clabel AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, clabel) AS crn FROM sims WHERE vec_id % 100 = 0)
        |  WHERE crn <= 2),
        |cand AS (
        |  SELECT q_id, vec_id AS c_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM assign JOIN probes USING (cell) WHERE vec_id <> q_id),
        |riv AS (
        |  SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS rnk FROM cand),
        |ivf AS (SELECT q_id, c_id FROM riv WHERE rnk <= 5),
        |hit AS (SELECT q_id, c_id FROM ivf i WHERE EXISTS
        |  (SELECT 1 FROM exact x WHERE x.q_id = i.q_id AND x.c_id = i.c_id))
        |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
        |  (SELECT COUNT(*) FROM hit) AS n_hit,
        |  ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
        |      / (SELECT COUNT(*) FROM exact), 6) AS recall_at_5""".stripMargin),

    // IVF NPROBE SWEEP — the recall-vs-cost CURVE behind v06's single
    // point, i.e. the measurement an operator actually runs before
    // picking the nprobe dial on a new corpus: recall@5 at nprobe ∈
    // {1, 2, 4} against v01's exact ground truth. One row per dial
    // setting; the exact side is computed ONCE and semi-joined by each
    // sweep arm. Scale shape: each arm is v05's plan (broadcast probes,
    // corpus never reshuffled) — the sweep multiplies only the probe
    // frame (|queries| × nprobe rows), not the corpus scans, and the
    // three arms share the centroid/assignment frames via the same
    // deterministic aggregates. Unrounded integer-ratio recalls
    // (identical IEEE division both engines).
    QuerySpec("v24_ivf_nprobe_curve", (s, dir) => {
      val e = emb(s, dir)
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("norm").as("qn"))
      // exact ground truth feeds four consumers (n_exact + 3 semi-joins)
      // and the centroid/assignment frames are identical across the three
      // sweep arms — barrier each once (r16; the lazy form re-derived the
      // brute-force top-k and the corpus assign per arm). The exact chain
      // and the cents→cells chain are independent: overlap them (§2.6)
      val Seq(Seq(exact), Seq(cents, cells)) = inParallel(
        () => Seq(cosineTopK(e, qs, 5).select(col("q_id"), col("c_id"))
          .localCheckpoint(true)),
        () => {
          val c = cellCentroids(e).localCheckpoint(true)
          Seq(c, coarseAssign(e, c).localCheckpoint(true))
        })
      val nEx = exact.agg(count(lit(1)).as("n_exact"))
      val hits = Seq(1, 2, 4).map { np =>
        ivfTopKAssigned(cells, cellProbes(e, cents, np))
          .select(col("q_id"), col("c_id"))
          .join(exact, Seq("q_id", "c_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
          .withColumn("nprobe", lit(np.toLong))
      }.reduce(_.unionByName(_))
      hits.crossJoin(broadcast(nEx))
        .withColumn("recall_at_5",
          col("n_hit").cast("double") / col("n_exact"))
        .select(col("nprobe"), col("n_hit"), col("n_exact"),
          col("recall_at_5"))
        .orderBy(col("nprobe"))
    },
      // v06's replay swept over nprobe ∈ {1,2,4}: the probe rank cutoff
      // becomes the sweep variable, everything else is shared
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM e WHERE vec_id % 100 = 0),
        |px AS (
        |  SELECT q_id, vec_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM e, q WHERE vec_id <> q_id),
        |rx AS (
        |  SELECT q_id, vec_id AS c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, vec_id) AS rnk FROM px),
        |exact AS (SELECT q_id, c_id FROM rx WHERE rnk <= 5),
        |nex AS (SELECT COUNT(*) AS n_exact FROM exact),
        |cd AS (
        |  SELECT label, sub AS pos, ROUND(AVG(val), 6) AS cv
        |  FROM (SELECT label, unnest(embedding::DOUBLE[]) AS val,
        |          generate_subscripts(embedding, 1) AS sub FROM embeddings)
        |  GROUP BY label, sub),
        |cent AS (
        |  SELECT label AS clabel, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnorm
        |  FROM (SELECT label, list(cv ORDER BY pos) AS cvec FROM cd GROUP BY label)),
        |sims AS (
        |  SELECT vec_id, emb, norm, clabel,
        |    ROUND(list_dot_product(emb, cvec) / (norm * cnorm), 6) AS csim
        |  FROM e, cent),
        |assign AS (
        |  SELECT vec_id, emb, norm, clabel AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, clabel) AS crn FROM sims)
        |  WHERE crn = 1),
        |nps AS (SELECT unnest([1, 2, 4]) AS np),
        |probes AS (
        |  SELECT np, vec_id AS q_id, emb AS qe, norm AS qn, clabel AS cell
        |  FROM (
        |    SELECT s.*, n.np, ROW_NUMBER() OVER (PARTITION BY s.vec_id, n.np
        |      ORDER BY csim DESC, clabel) AS crn
        |    FROM sims s, nps n WHERE vec_id % 100 = 0)
        |  WHERE crn <= np),
        |cand AS (
        |  SELECT np, q_id, vec_id AS c_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM assign JOIN probes USING (cell) WHERE vec_id <> q_id),
        |riv AS (
        |  SELECT np, q_id, c_id, ROW_NUMBER() OVER (PARTITION BY np, q_id
        |    ORDER BY sim DESC, c_id) AS rnk FROM cand),
        |ivf AS (SELECT np, q_id, c_id FROM riv WHERE rnk <= 5),
        |hits AS (
        |  SELECT np, COUNT(*) AS n_hit FROM ivf i
        |  WHERE EXISTS (SELECT 1 FROM exact x
        |                WHERE x.q_id = i.q_id AND x.c_id = i.c_id)
        |  GROUP BY np)
        |SELECT CAST(np AS BIGINT) AS nprobe,
        |  COALESCE(n_hit, 0) AS n_hit, n_exact,
        |  CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_exact AS recall_at_5
        |FROM nps LEFT JOIN hits USING (np) CROSS JOIN nex
        |ORDER BY nprobe""".stripMargin),

    // INT8 SCALAR QUANTIZATION (SQ8) + exact rerank — the third classic ANN
    // scale pillar next to LSH (v03-v09) and IVF (v05/v06): the corpus is
    // compressed to one 8-bit code per dimension against per-dimension
    // corpus min/max, candidate generation scans ONLY the codes
    // (asymmetric distance: full-precision query vs dequantized codes —
    // 4× less scan bandwidth than float32, 16× if the floats were doubles),
    // and only the top-C=15 survivors per query fetch full precision for
    // exact reranking. Output is the reranked top-5 — on this corpus it
    // reproduces v01's exact top-k bit-for-bit, which the oracle replays
    // END TO END through its own quantize/dequantize/rerank pipeline, so a
    // single mis-rounded code flips the hash.
    //
    // Scale shape: the min/max "codebook" is 2×dim doubles computed by one
    // distributed posexplode+agg and carried as a one-row broadcast (never
    // a driver collect); quantization and candidate scoring are map-side
    // over the code column; the only shuffles are the per-query top-C
    // partial-aggregate (TopKAggregator — O(queries × partitions × C)
    // rows) and the broadcast rerank join. At rest the codes pack into a
    // dim-byte binary column; in-flight they ride as array<int> since the
    // fixture source is float parquet either way.
    QuerySpec("v11_sq8_topk", (s, dir) => {
      val e = emb(s, dir)
      // per-dimension min/max as two dim-length arrays on ONE row
      val mm = e.select(posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("mns"),
          array_sort(collect_list(struct(col("pos"), col("mx")))).as("mxs"))
        .select(expr("transform(mns, s -> s.mn)").as("mn"),
          expr("transform(mxs, s -> s.mx)").as("mx"))
      // quantize to codes, dequantize for asymmetric scoring (same
      // expression shape the oracle replays: round → int, then
      // mn + code·range/255)
      val coded = e.crossJoin(broadcast(mm))
        .withColumn("qv", expr(
          "transform(emb, (x, i) -> cast(round((x - mn[i]) * 255.0D / (mx[i] - mn[i])) as int))"))
        .withColumn("dq", expr(
          "transform(qv, (q, i) -> mn[i] + q * (mx[i] - mn[i]) / 255.0D)"))
        .withColumn("dqn", expr("sqrt(graft_dot(dq, dq))"))
        .select(col("vec_id"), col("dq"), col("dqn"))
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("norm").as("qn"))
      val topC = udaf(new graft.functions.TopKAggregator(15))
      val cand = fanout(coded)
        .crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("asim",
          round(expr("graft_dot(qe, dq)") / (col("qn") * col("dqn")), 6))
        .groupBy(col("q_id"))
        .agg(topC(col("vec_id"), col("asim")).as("top"))
        .select(col("q_id"), explode(expr("transform(top, s -> s.c_id)")).as("c_id"))
      // exact rerank: the candidate list is queries×C rows — broadcast it
      // against the full-precision corpus, then top-5 by exact cosine
      val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
      e.join(broadcast(cand), col("vec_id") === col("c_id"))
        .join(broadcast(qs), Seq("q_id"))
        .withColumn("sim",
          round(expr("graft_dot(qe, emb)") / (col("qn") * col("norm")), 6))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
      // full replay of the SQ8 pipeline: per-dim min/max codebook → int8
      // codes → dequantize → asymmetric candidate top-15 → exact rerank
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |d AS (SELECT unnest(embedding::DOUBLE[]) AS x,
        |        generate_subscripts(embedding, 1) AS sub FROM embeddings),
        |mmr AS (SELECT sub, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY sub),
        |mma AS (SELECT list(mn ORDER BY sub) AS mn, list(mx ORDER BY sub) AS mx
        |        FROM mmr),
        |coded AS (
        |  SELECT vec_id,
        |    list_transform(range(0, 64), i ->
        |      mn[CAST(i + 1 AS INT)] +
        |      CAST(round((emb[CAST(i + 1 AS INT)] - mn[CAST(i + 1 AS INT)]) * 255.0
        |             / (mx[CAST(i + 1 AS INT)] - mn[CAST(i + 1 AS INT)])) AS INT)
        |        * (mx[CAST(i + 1 AS INT)] - mn[CAST(i + 1 AS INT)]) / 255.0) AS dq
        |  FROM e, mma),
        |cd AS (SELECT vec_id, dq, sqrt(list_dot_product(dq, dq)) AS dqn FROM coded),
        |q AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM e
        |      WHERE vec_id % 100 = 0),
        |cand AS (
        |  SELECT q_id, vec_id AS c_id,
        |    round(list_dot_product(qe, dq) / (qn * dqn), 6) AS asim
        |  FROM cd, q WHERE vec_id <> q_id),
        |top15 AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY asim DESC, c_id) AS r FROM cand)
        |  WHERE r <= 15),
        |rr AS (
        |  SELECT t.q_id, t.c_id,
        |    round(list_dot_product(qq.qe, c.emb) / (qq.qn * c.norm), 6) AS sim
        |  FROM top15 t JOIN q qq ON qq.q_id = t.q_id JOIN e c ON c.vec_id = t.c_id)
        |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, sim FROM (
        |  SELECT q_id, c_id, sim, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS rnk FROM rr)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),

    // PRODUCT QUANTIZATION (PQ) + exact rerank — the fourth ANN pillar
    // (LSH v03-v09, IVF v05/v06, SQ8 v11): the 64-dim space is split into
    // m=16 subspaces of 4 dims; each subspace gets a k=16-centroid codebook
    // (deterministic seed sample = the 16 lowest vec_ids, refined by ONE
    // Lloyd/k-means step over the whole corpus); a vector compresses to 16
    // sub-codes = 16 BYTES (16× vs float32, vs SQ8's 4×). Candidate scoring
    // is asymmetric (ADC): dot(query, reconstruction) = Σ_s dot(query_s,
    // centroid[code_s]) — the classic per-query m×k distance table,
    // expressed here through the reconstruction because the dot product is
    // linear over concatenated subspaces (numerically identical, one
    // codegen'd expression). Top-C=50 survivors per query rerank at full
    // precision; the oracle replays seed → Lloyd step → encode → ADC →
    // rerank end-to-end, so one mis-assigned code flips the hash.
    //
    // Measured recall@5 vs v01's exact top-k on this corpus: 0.8 at C=50
    // (0.64 at C=20; the coarser m=8×8-dim/8-byte variant: 0.52 at C=20,
    // 0.8 at C=100). Uniform-random embeddings are PQ's worst case — no
    // cluster structure for the codebook to exploit — so these are floor
    // numbers; the rerank budget C is the dial, and C stays absolute while
    // the corpus grows.
    //
    // Scale shape: the codebook is m×k×(d/m) = 1024 doubles — built by one
    // bounded explode+agg training job over corpus subvectors, then carried
    // as a ONE-ROW broadcast (never a driver collect). Encoding + ADC are
    // pure map-side expressions over the broadcast codebook (zero shuffle —
    // the argmin per subspace is an array_sort over 16 structs inside one
    // expression); the only shuffles are the training aggregate, the
    // per-query top-C partial aggregate (TopKAggregator) and the broadcast
    // rerank join. At rest the codes column is 16 tinyints.
    QuerySpec("v12_pq_topk", withHashAggBudget((s, dir) => {
      val e = emb(s, dir)
      val (m, d, k) = (16, 4, 16)
      // rounded squared L2 between two d-dim arrays (same fold both engines)
      // rounded squared L2 via the codegen'd kernel (identical fold order
      // to the old aggregate∘zip_with HOF chain — see L2Squared's scaladoc)
      def l2(a: String, b: String) = s"round(graft_l2($a, $b), 6)"
      // training frame: (vec_id, sub, sv) corpus subvectors
      val subs = e.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(emb, s * $d + 1, $d))"))
        .as(Seq("sub", "sv")))
      // seed codebook: subvectors of the k lowest ids (deterministic sample)
      val seeds = subs.filter(col("vec_id") < k)
        .select(col("vec_id").cast("int").as("cid"), col("sub"),
          col("sv").as("cv"))
      // ONE Lloyd step: assign every corpus subvector to its nearest seed
      // (rounded L2, ties to the lowest cid), recompute centroids as the
      // rounded dim-wise mean; a seed that captured nothing keeps its
      // seed value (coalesce)
      val assigned = subs.join(broadcast(seeds), Seq("sub"))
        .withColumn("dist", expr(l2("sv", "cv")))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("dist"), col("cid"))).as("best"),
          first(col("sv")).as("sv"))
        .select(col("sub"), col("best.cid").as("cid"),
          posexplode(col("sv")).as(Seq("pos", "x")))
      val refined = assigned
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(round(avg(col("x")), 6).as("mu"))
        .groupBy(col("sub"), col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mu))), t -> t.mu)")
          .as("cv"))
      // final codebook as ONE broadcast row: sub → [struct(cid, cv)...]
      val cbRow = seeds.select(col("sub"), col("cid"), col("cv").as("cv0"))
        .join(refined, Seq("sub", "cid"), "left_outer")
        .select(col("sub"), col("cid"), coalesce(col("cv"), col("cv0")).as("cv"))
        .groupBy(col("sub"))
        .agg(expr("transform(array_sort(collect_list(struct(cid, cv))), t -> struct(t.cid as cid, t.cv as cv))")
          .as("cents"))
        .agg(expr("transform(array_sort(collect_list(struct(sub, cents))), t -> t.cents)")
          .as("cb"))
        // one-row codebook barrier (r16): seeds is referenced twice
        // (assign + fallback join), so the lazy form re-derived the subs
        // pipeline per reference; one tiny job materializes the codebook
        .localCheckpoint(true)
      // encode + reconstruct, fully map-side against the broadcast codebook:
      // per subspace, argmin over the 16 centroids = first element of an
      // array_sort by (rounded dist, cid)
      val dqExpr =
        s"""flatten(transform(sequence(0, ${m - 1}), s ->
           |  element_at(array_sort(transform(element_at(cb, s + 1), c ->
           |    struct(${l2(s"slice(emb, s * $d + 1, $d)", "c.cv")} as dd,
           |           c.cid as cid, c.cv as cv))), 1).cv))""".stripMargin
      val coded = fanout(e).crossJoin(broadcast(cbRow))
        .withColumn("dq", expr(dqExpr))
        .withColumn("dqn", expr("sqrt(graft_dot(dq, dq))"))
        .select(col("vec_id"), col("dq"), col("dqn"))
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("norm").as("qn"))
      val topC = udaf(new graft.functions.TopKAggregator(50))
      val cand = coded
        .crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("asim",
          round(expr("graft_dot(qe, dq)") / (col("qn") * col("dqn")), 6))
        .groupBy(col("q_id"))
        .agg(topC(col("vec_id"), col("asim")).as("top"))
        .select(col("q_id"), explode(expr("transform(top, s -> s.c_id)")).as("c_id"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
      e.join(broadcast(cand), col("vec_id") === col("c_id"))
        .join(broadcast(qs), Seq("q_id"))
        .withColumn("sim",
          round(expr("graft_dot(qe, emb)") / (col("qn") * col("norm")), 6))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
        .orderBy(col("q_id"), col("rnk"))
    }),
      // full replay of the PQ pipeline: seed codebook (16 lowest ids) → one
      // Lloyd step (assign + rounded dim-wise means, empty cells keep the
      // seed) → encode via per-subspace argmin → ADC candidate top-20 →
      // exact rerank
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |subs AS (
        |  SELECT vec_id, s.sub, e.emb[CAST(s.sub * 4 + 1 AS INT) : CAST(s.sub * 4 + 4 AS INT)] AS sv
        |  FROM e, (SELECT unnest(range(0, 16)) AS sub) s),
        |seeds AS (SELECT CAST(vec_id AS INT) AS cid, sub, sv AS cv
        |          FROM subs WHERE vec_id < 16),
        |d0 AS (
        |  SELECT v.vec_id, v.sub, c.cid, v.sv,
        |    round(list_sum(list_transform(range(1, 5), i ->
        |      (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
        |      * (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 6) AS dist
        |  FROM subs v JOIN seeds c USING (sub)),
        |a0 AS (
        |  SELECT vec_id, sub, cid, sv FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, cid) AS rn FROM d0) WHERE rn = 1),
        |rf AS (
        |  SELECT sub, cid, pos, round(AVG(x), 6) AS mu FROM (
        |    SELECT sub, cid, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos
        |    FROM a0)
        |  GROUP BY sub, cid, pos),
        |rfc AS (SELECT sub, cid, list(mu ORDER BY pos) AS cv FROM rf
        |        GROUP BY sub, cid),
        |cb AS (
        |  SELECT s.sub, s.cid, COALESCE(r.cv, s.cv) AS cv
        |  FROM seeds s LEFT JOIN rfc r ON r.sub = s.sub AND r.cid = s.cid),
        |d1 AS (
        |  SELECT v.vec_id, v.sub, c.cid, c.cv,
        |    round(list_sum(list_transform(range(1, 5), i ->
        |      (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
        |      * (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 6) AS dist
        |  FROM subs v JOIN cb c USING (sub)),
        |enc AS (
        |  SELECT vec_id, sub, cv FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1),
        |recon AS (
        |  SELECT vec_id, flatten(list(cv ORDER BY sub)) AS dq FROM enc
        |  GROUP BY vec_id),
        |cd AS (SELECT vec_id, dq, sqrt(list_dot_product(dq, dq)) AS dqn FROM recon),
        |q AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM e
        |      WHERE vec_id % 100 = 0),
        |cand AS (
        |  SELECT q_id, vec_id AS c_id,
        |    round(list_dot_product(qe, dq) / (qn * dqn), 6) AS asim
        |  FROM cd, q WHERE vec_id <> q_id),
        |topc AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY asim DESC, c_id) AS r FROM cand) WHERE r <= 50),
        |rr AS (
        |  SELECT t.q_id, t.c_id,
        |    round(list_dot_product(qq.qe, c.emb) / (qq.qn * c.norm), 6) AS sim
        |  FROM topc t JOIN q qq ON qq.q_id = t.q_id JOIN e c ON c.vec_id = t.c_id)
        |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, sim FROM (
        |  SELECT q_id, c_id, sim, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS rnk FROM rr)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),

    // IVF-PQ — the composition FAISS ships as its default billion-scale
    // index (IVFPQ): the IVF coarse quantizer (v05's per-label centroids)
    // prunes the search to nprobe=2 cells, and inside a cell vectors exist
    // only as PQ codes of their RESIDUAL (vector − cell centroid) — the
    // residual distribution is tighter than the raw corpus, so the same
    // 16×4-bit codebook quantizes it with less error than v12's direct PQ.
    // ADC-scores queries against centroid + dequantized residual, then
    // exact-reranks the top-C=50. Scale shape: centroids and the 256-row
    // codebook are one-row/tiny broadcasts (never a driver collect);
    // residual computation, encoding and ADC scoring are map-side; the
    // only shuffles are the PQ training aggregate, the per-vector argmin
    // (corpus × 16 rows) and the per-query top-C partial aggregate. At
    // rest a vector costs 16 bytes + a cell id; the probed-cell scan reads
    // codes only, and candidates outside the probe cells are never touched
    // — bandwidth per query is |cells probed| × 16 B/vector.
    QuerySpec("v13_ivfpq_topk", (s, dir) => {
      val e = emb(s, dir)
      val (m, d, k) = (16, 4, 16)
      // rounded squared L2 via the codegen'd kernel (identical fold order
      // to the old aggregate∘zip_with HOF chain — see L2Squared's scaladoc)
      def l2(a: String, b: String) = s"round(graft_l2($a, $b), 6)"
      // cents feeds FOUR consumers (residual assign, residual join,
      // reconstruction join, probes) and resid TWO (PQ training, encode);
      // without barriers the executed plan re-derived them per reference
      // (r16 plan audit: 52 Exchanges / 17 FileScans). cents is k rows;
      // resid is the corpus-sized residual frame — the v16 `af`
      // materialize-the-cluster-map trade, paid once instead of twice.
      val cents = cellCentroids(e).localCheckpoint(true)
      // residual vs the assigned cell's centroid, dims rounded to 6 dp so
      // both engines train/encode from byte-identical inputs
      // resid is CORPUS-SIZED (full residual double arrays) with two
      // consumers (PQ training, encode) and is deliberately NOT
      // barriered (r17, SWEEP17 128× A/B): the r16 localCheckpoint arm
      // ran 49.0 s with 1.15 GB disk / 5.4 GB memory spill — the
      // executor-local blocks ARE the memory pressure — while plain
      // recompute ran 46.1 s with zero spill, keeps lineage (executor
      // loss recomputes instead of failing the query), and removes the
      // 100 TB per-executor storage hazard the r16 verdict flagged. The
      // two derivations are one extra coarse-assign aggregate + map-side
      // zip_with; the small cents/cbRow barriers above/below still keep
      // the plan linear.
      val resid = coarseAssign(e, cents)
        .join(broadcast(cents), col("cell") === col("clabel"))
        .withColumn("res", expr("zip_with(emb, cvec, (x, c) -> round(x - c, 6))"))
        .select(col("vec_id"), col("cell"), col("res"))
      // PQ training on residual subvectors — v12's one-Lloyd-step recipe
      val subs = resid.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(res, s * $d + 1, $d))"))
        .as(Seq("sub", "sv")))
      val seeds = subs.filter(col("vec_id") < k)
        .select(col("vec_id").cast("int").as("cid"), col("sub"),
          col("sv").as("cv"))
      val assigned = subs.join(broadcast(seeds), Seq("sub"))
        .withColumn("dist", expr(l2("sv", "cv")))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("dist"), col("cid"))).as("best"),
          first(col("sv")).as("sv"))
        .select(col("sub"), col("best.cid").as("cid"),
          posexplode(col("sv")).as(Seq("pos", "x")))
      val refined = assigned
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(round(avg(col("x")), 6).as("mu"))
        .groupBy(col("sub"), col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mu))), t -> t.mu)")
          .as("cv"))
      val cbRow = seeds.select(col("sub"), col("cid"), col("cv").as("cv0"))
        .join(refined, Seq("sub", "cid"), "left_outer")
        .select(col("sub"), col("cid"), coalesce(col("cv"), col("cv0")).as("cv"))
        .groupBy(col("sub"))
        .agg(expr("transform(array_sort(collect_list(struct(cid, cv))), t -> struct(t.cid as cid, t.cv as cv))")
          .as("cents"))
        .agg(expr("transform(array_sort(collect_list(struct(sub, cents))), t -> t.cents)")
          .as("cb"))
        // one-row codebook: barrier collapses the whole seeds/refined
        // training pipeline into a single job instead of one per reference
        .localCheckpoint(true)
      // encode the residual, reconstruct as centroid + dequantized residual
      val dqExpr =
        s"""flatten(transform(sequence(0, ${m - 1}), s ->
           |  element_at(array_sort(transform(element_at(cb, s + 1), c ->
           |    struct(${l2(s"slice(res, s * $d + 1, $d)", "c.cv")} as dd,
           |           c.cid as cid, c.cv as cv))), 1).cv))""".stripMargin
      val coded = resid.crossJoin(broadcast(cbRow))
        .withColumn("dqr", expr(dqExpr))
        .join(broadcast(cents), col("cell") === col("clabel"))
        .withColumn("recon", expr("zip_with(cvec, dqr, (c, r) -> c + r)"))
        .withColumn("rn", expr("sqrt(graft_dot(recon, recon))"))
        .select(col("vec_id"), col("cell"), col("recon"), col("rn"))
      // ADC inside the probed cells only, then exact rerank of the top-C
      val probes = cellProbes(e, cents, 2)
      val topC = udaf(new graft.functions.TopKAggregator(50))
      val cand = coded.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("asim",
          round(expr("graft_dot(qe, recon)") / (col("qn") * col("rn")), 6))
        .groupBy(col("q_id"))
        .agg(topC(col("vec_id"), col("asim")).as("top"))
        .select(col("q_id"), explode(expr("transform(top, s -> s.c_id)")).as("c_id"))
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("norm").as("qn"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
      e.join(broadcast(cand), col("vec_id") === col("c_id"))
        .join(broadcast(qs), Seq("q_id"))
        .withColumn("sim",
          round(expr("graft_dot(qe, emb)") / (col("qn") * col("norm")), 6))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
      // end-to-end IVFPQ replay: v05's cell assignment/probes + v12's PQ
      // train/encode, run on RESIDUALS, reconstruct centroid + dq(residual),
      // ADC inside probed cells, exact rerank of the top-50
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |cd AS (
        |  SELECT label, sub AS pos, ROUND(AVG(val), 6) AS cv
        |  FROM (SELECT label, unnest(embedding::DOUBLE[]) AS val,
        |          generate_subscripts(embedding, 1) AS sub FROM embeddings)
        |  GROUP BY label, sub),
        |cent AS (
        |  SELECT label AS clabel, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnorm
        |  FROM (SELECT label, list(cv ORDER BY pos) AS cvec FROM cd GROUP BY label)),
        |sims AS (
        |  SELECT vec_id, emb, norm, clabel,
        |    ROUND(list_dot_product(emb, cvec) / (norm * cnorm), 6) AS csim
        |  FROM e, cent),
        |assign AS (
        |  SELECT vec_id, emb, norm, clabel AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, clabel) AS crn FROM sims)
        |  WHERE crn = 1),
        |resid AS (
        |  SELECT a.vec_id, a.cell,
        |    list_transform(range(1, 65), i ->
        |      round(a.emb[CAST(i AS INT)] - c.cvec[CAST(i AS INT)], 6)) AS res
        |  FROM assign a JOIN cent c ON c.clabel = a.cell),
        |subs AS (
        |  SELECT vec_id, s.sub,
        |    res[CAST(s.sub * 4 + 1 AS INT) : CAST(s.sub * 4 + 4 AS INT)] AS sv
        |  FROM resid, (SELECT unnest(range(0, 16)) AS sub) s),
        |seeds AS (SELECT CAST(vec_id AS INT) AS cid, sub, sv AS cv
        |          FROM subs WHERE vec_id < 16),
        |d0 AS (
        |  SELECT v.vec_id, v.sub, c.cid, v.sv,
        |    round(list_sum(list_transform(range(1, 5), i ->
        |      (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
        |      * (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 6) AS dist
        |  FROM subs v JOIN seeds c USING (sub)),
        |a0 AS (
        |  SELECT vec_id, sub, cid, sv FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, cid) AS rn FROM d0) WHERE rn = 1),
        |rf AS (
        |  SELECT sub, cid, pos, round(AVG(x), 6) AS mu FROM (
        |    SELECT sub, cid, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos
        |    FROM a0)
        |  GROUP BY sub, cid, pos),
        |rfc AS (SELECT sub, cid, list(mu ORDER BY pos) AS cv FROM rf
        |        GROUP BY sub, cid),
        |cb AS (
        |  SELECT s.sub, s.cid, COALESCE(r.cv, s.cv) AS cv
        |  FROM seeds s LEFT JOIN rfc r ON r.sub = s.sub AND r.cid = s.cid),
        |d1 AS (
        |  SELECT v.vec_id, v.sub, c.cid, c.cv,
        |    round(list_sum(list_transform(range(1, 5), i ->
        |      (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
        |      * (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 6) AS dist
        |  FROM subs v JOIN cb c USING (sub)),
        |enc AS (
        |  SELECT vec_id, sub, cv FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1),
        |recon0 AS (
        |  SELECT vec_id, flatten(list(cv ORDER BY sub)) AS dqr FROM enc
        |  GROUP BY vec_id),
        |recon AS (
        |  SELECT r.vec_id, a.cell,
        |    list_transform(range(1, 65), i ->
        |      c.cvec[CAST(i AS INT)] + r.dqr[CAST(i AS INT)]) AS rc
        |  FROM recon0 r JOIN assign a USING (vec_id)
        |  JOIN cent c ON c.clabel = a.cell),
        |cdx AS (SELECT vec_id, cell, rc,
        |          sqrt(list_dot_product(rc, rc)) AS rn FROM recon),
        |probes AS (
        |  SELECT vec_id AS q_id, emb AS qe, norm AS qn, clabel AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, clabel) AS crn FROM sims WHERE vec_id % 100 = 0)
        |  WHERE crn <= 2),
        |cand AS (
        |  SELECT q_id, vec_id AS c_id,
        |    round(list_dot_product(qe, rc) / (qn * rn), 6) AS asim
        |  FROM cdx JOIN probes USING (cell) WHERE vec_id <> q_id),
        |topc AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY asim DESC, c_id) AS r FROM cand) WHERE r <= 50),
        |q AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM e
        |      WHERE vec_id % 100 = 0),
        |rr AS (
        |  SELECT t.q_id, t.c_id,
        |    round(list_dot_product(qq.qe, c.emb) / (qq.qn * c.norm), 6) AS sim
        |  FROM topc t JOIN q qq ON qq.q_id = t.q_id JOIN e c ON c.vec_id = t.c_id)
        |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, sim FROM (
        |  SELECT q_id, c_id, sim, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS rnk FROM rr)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),

    // MMR diversified top-k — v01 returns the 5 MOST similar, which for a
    // corpus with near-duplicates means 5 copies of the same thing; MMR
    // (Carbonell & Goldstein 1998) re-ranks the top-20 candidate pool so
    // each pick maximizes λ·relevance − (1−λ)·redundancy-to-already-picked
    // (λ = 0.7). The distributed part is the expensive part (top-20
    // scoring via the same broadcast + partial-top-k plan as v01); the
    // greedy re-rank is a per-query kernel over ≤20 candidates
    // ([[graft.operators.Mmr]]) — parallel across queries, O(k·20)
    // within. The oracle unrolls the 5 greedy steps as chained CTEs with
    // the identical rounding and lowest-id tie-break.
    QuerySpec("v14_mmr_diversify", (s, dir) => {
      val sp = s
      import sp.implicits._
      val e = emb(s, dir)
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("norm").as("qn"))
      val cand = cosineTopK(e, qs, 20).select(col("q_id"), col("c_id"), col("sim"))
      cand
        .join(e.select(col("vec_id").as("c_id"), col("emb"), col("norm")), "c_id")
        .select(col("q_id"), col("c_id"), col("sim"), col("emb"), col("norm"))
        .as[(Long, Long, Double, Seq[Double], Double)]
        .groupByKey(_._1)
        .flatMapGroups { (q, it) =>
          val cands = it.map(t =>
            graft.operators.Mmr.Cand(t._2, t._3, t._4.toArray, t._5)).toSeq
          graft.operators.Mmr.run(cands, 5, 0.7).iterator
            .map(p => (q, p.step, p.id, p.sim, p.mmr))
        }
        .toDF("q_id", "step", "c_id", "sim", "mmr")
        .orderBy(col("q_id"), col("step"))
    },
      // greedy MMR unrolled: top-20 pool, pairwise sims among pool members,
      // then 5 chained argmax steps (score rounded to 6 dp, ties to the
      // lowest id) — div at step s = greatest over the s-1 picks so far
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM e
        |      WHERE vec_id % 100 = 0),
        |p AS (
        |  SELECT q_id, vec_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM e, q WHERE vec_id <> q_id),
        |cw AS (
        |  SELECT q_id, vec_id AS c_id, sim FROM (
        |    SELECT q_id, vec_id, sim, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, vec_id) AS rnk FROM p) WHERE rnk <= 20),
        |ce AS (SELECT w.q_id, w.c_id, e.emb, e.norm
        |       FROM cw w JOIN e ON e.vec_id = w.c_id),
        |ps AS (
        |  SELECT a.q_id, a.c_id AS ca, b.c_id AS cb,
        |    ROUND(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) AS sim
        |  FROM ce a JOIN ce b ON b.q_id = a.q_id AND b.c_id <> a.c_id),
        |s1 AS (
        |  SELECT q_id, c_id AS sel1, sim AS sim1 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, c_id) AS rn FROM cw) WHERE rn = 1),
        |sc2 AS (
        |  SELECT c.q_id, c.c_id, c.sim,
        |    CAST(ROUND(0.7 * CAST(c.sim AS DECIMAL(18,6))
        |      - 0.3 * CAST(p1.sim AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr
        |  FROM cw c JOIN s1 USING (q_id)
        |  JOIN ps p1 ON p1.q_id = c.q_id AND p1.ca = c.c_id AND p1.cb = s1.sel1
        |  WHERE c.c_id <> s1.sel1),
        |s2 AS (
        |  SELECT q_id, c_id AS sel2, sim AS sim2, mmr AS mmr2 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY mmr DESC, c_id) AS rn FROM sc2) WHERE rn = 1),
        |sc3 AS (
        |  SELECT c.q_id, c.c_id, c.sim,
        |    CAST(ROUND(0.7 * CAST(c.sim AS DECIMAL(18,6))
        |      - 0.3 * CAST(greatest(p1.sim, p2.sim) AS DECIMAL(18,6)), 6)
        |      AS DOUBLE) AS mmr
        |  FROM cw c JOIN s1 USING (q_id) JOIN s2 USING (q_id)
        |  JOIN ps p1 ON p1.q_id = c.q_id AND p1.ca = c.c_id AND p1.cb = s1.sel1
        |  JOIN ps p2 ON p2.q_id = c.q_id AND p2.ca = c.c_id AND p2.cb = s2.sel2
        |  WHERE c.c_id NOT IN (s1.sel1, s2.sel2)),
        |s3 AS (
        |  SELECT q_id, c_id AS sel3, sim AS sim3, mmr AS mmr3 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY mmr DESC, c_id) AS rn FROM sc3) WHERE rn = 1),
        |sc4 AS (
        |  SELECT c.q_id, c.c_id, c.sim,
        |    CAST(ROUND(0.7 * CAST(c.sim AS DECIMAL(18,6))
        |      - 0.3 * CAST(greatest(p1.sim, p2.sim, p3.sim) AS DECIMAL(18,6)), 6)
        |      AS DOUBLE) AS mmr
        |  FROM cw c JOIN s1 USING (q_id) JOIN s2 USING (q_id) JOIN s3 USING (q_id)
        |  JOIN ps p1 ON p1.q_id = c.q_id AND p1.ca = c.c_id AND p1.cb = s1.sel1
        |  JOIN ps p2 ON p2.q_id = c.q_id AND p2.ca = c.c_id AND p2.cb = s2.sel2
        |  JOIN ps p3 ON p3.q_id = c.q_id AND p3.ca = c.c_id AND p3.cb = s3.sel3
        |  WHERE c.c_id NOT IN (s1.sel1, s2.sel2, s3.sel3)),
        |s4 AS (
        |  SELECT q_id, c_id AS sel4, sim AS sim4, mmr AS mmr4 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY mmr DESC, c_id) AS rn FROM sc4) WHERE rn = 1),
        |sc5 AS (
        |  SELECT c.q_id, c.c_id, c.sim,
        |    CAST(ROUND(0.7 * CAST(c.sim AS DECIMAL(18,6))
        |      - 0.3 * CAST(greatest(p1.sim, p2.sim, p3.sim, p4.sim)
        |                   AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr
        |  FROM cw c JOIN s1 USING (q_id) JOIN s2 USING (q_id)
        |  JOIN s3 USING (q_id) JOIN s4 USING (q_id)
        |  JOIN ps p1 ON p1.q_id = c.q_id AND p1.ca = c.c_id AND p1.cb = s1.sel1
        |  JOIN ps p2 ON p2.q_id = c.q_id AND p2.ca = c.c_id AND p2.cb = s2.sel2
        |  JOIN ps p3 ON p3.q_id = c.q_id AND p3.ca = c.c_id AND p3.cb = s3.sel3
        |  JOIN ps p4 ON p4.q_id = c.q_id AND p4.ca = c.c_id AND p4.cb = s4.sel4
        |  WHERE c.c_id NOT IN (s1.sel1, s2.sel2, s3.sel3, s4.sel4)),
        |s5 AS (
        |  SELECT q_id, c_id AS sel5, sim AS sim5, mmr AS mmr5 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY mmr DESC, c_id) AS rn FROM sc5) WHERE rn = 1)
        |SELECT q_id, CAST(step AS BIGINT) AS step, c_id, sim, mmr FROM (
        |  SELECT q_id, 1 AS step, sel1 AS c_id, sim1 AS sim, sim1 AS mmr FROM s1
        |  UNION ALL
        |  SELECT q_id, 2, sel2, sim2, mmr2 FROM s2
        |  UNION ALL
        |  SELECT q_id, 3, sel3, sim3, mmr3 FROM s3
        |  UNION ALL
        |  SELECT q_id, 4, sel4, sim4, mmr4 FROM s4
        |  UNION ALL
        |  SELECT q_id, 5, sel5, sim5, mmr5 FROM s5)
        |ORDER BY q_id, step""".stripMargin),

    // FULL LLOYD K-MEANS — the distributed clustering primitive the other
    // vector ops only approximate (v05's cells are label groups, v12/v13
    // train their PQ codebooks with a single Lloyd step): k=8 spherical
    // k-means (cosine assignment, dim-wise-mean update) run for TWO full
    // iterations from deterministic seeds (vec_id < 8), then a final
    // assignment. Output = the iterated centroids (cluster × dim rows)
    // plus each cluster's population and mean within-cluster similarity —
    // the convergence diagnostics a curation pipeline actually monitors.
    //
    // Scale shape per iteration: centroids are a k-row broadcast; the
    // n×k similarity frame reduces by ONE map-side-combinable max-struct
    // aggregate (assignment — no window shuffle); the update is ONE
    // (cluster, dim)-keyed hash aggregate. Nothing is ever driver-side and
    // nothing grows super-linearly: cost = iters × n × k × dim map work
    // plus iters × 2 bounded shuffles. Empty cells keep their previous
    // centroid (v12's rule). Assignment similarities are 6-dp-rounded with
    // lowest-id tie-break, and centroid means are 6-dp-rounded, so every
    // iteration is bit-identical across engines and partitionings — the
    // DuckDB oracle replays seeds → assign → update → assign → update →
    // final assign end-to-end.
    QuerySpec("v15_kmeans", (s, dir) => {
      val e = emb(s, dir)
      val c2 = kmeansCentroids(e, iters = 2)
      val af = kmeansAssign(e, c2)
      val stats = af.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
          round(sum(col("csim").cast("decimal(18,6)")).cast("double")
            / count(lit(1)), 6).as("avg_sim"))
      c2.select(col("cid"), posexplode(col("cvec")).as(Seq("pos", "centroid")))
        .join(stats, Seq("cid"), "left")
        .select(col("cid").as("cluster"), col("pos").cast("long").as("pos"),
          col("centroid"), coalesce(col("n_members"), lit(0L)).as("n_members"),
          col("avg_sim"))
        .orderBy(col("cluster"), col("pos"))
    },
      s"""WITH $kmeansSql,
         |st AS (SELECT cid, COUNT(*) AS n_members,
         |    ROUND(CAST(SUM(CAST(csim AS DECIMAL(18,6))) AS DOUBLE)
         |      / COUNT(*), 6) AS avg_sim
         |  FROM af GROUP BY cid),
         |fin AS (SELECT cid, unnest(cvec) AS centroid,
         |    generate_subscripts(cvec, 1) AS pos FROM c2)
         |SELECT f.cid AS cluster, CAST(f.pos - 1 AS BIGINT) AS pos, f.centroid,
         |  CAST(coalesce(st.n_members, 0) AS BIGINT) AS n_members, st.avg_sim
         |FROM fin f LEFT JOIN st ON f.cid = st.cid
         |ORDER BY cluster, pos""".stripMargin),

    // K-SELECTION ELBOW — the measurement that PRECEDES v15/v16 in a real
    // curation pipeline: how many clusters does this corpus need? Run the
    // same seeded 2-iteration k-means at k ∈ {2, 4, 8} and report the
    // mean best-assignment cosine per k (the cosine analogue of inertia —
    // higher = tighter cells; the elbow is where the increments flatten).
    // Each arm is v15's plan (broadcast centroids, one max-struct assign
    // agg); the three arms share the corpus scan via the union. The mean
    // is the UNROUNDED quotient of an exact decimal sum by a count — the
    // tx06 discipline, no round-on-quotient hazard.
    QuerySpec("v25_kmeans_elbow", (s, dir) => {
      val e = emb(s, dir)
      // the three k-arms are independent Lloyd chains whose per-iteration
      // centroid barriers (kmeansCentroids) would otherwise run as 6
      // SEQUENTIAL jobs — submit the chains from concurrent driver
      // threads (guide §2.6) so the wall cost is one chain, not three
      inParallel(Seq(2, 4, 8).map(k => () =>
        kmeansAssign(e, kmeansCentroids(e, iters = 2, k = k))
          .agg(count(lit(1)).as("n_vectors"),
            sum(col("csim").cast("decimal(18,6)")).as("s"))
          .select(lit(k.toLong).as("k"), col("n_vectors"),
            (col("s").cast("double") / col("n_vectors").cast("double"))
              .as("mean_best_sim"))): _*)
        .reduce(_.unionByName(_)).orderBy(col("k"))
    },
      // three suffixed k-means replays sharing one corpus CTE; per arm the
      // same decimal-sum / count quotient
      s"""WITH $embSql,
         |${kmeansSqlFrom("2", "x2")},
         |${kmeansSqlFrom("4", "x4")},
         |${kmeansSqlFrom("8", "x8")}
         |SELECT CAST(2 AS BIGINT) AS k, COUNT(*) AS n_vectors,
         |  CAST(SUM(CAST(csim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         |    AS mean_best_sim
         |FROM afx2
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), COUNT(*),
         |  CAST(SUM(CAST(csim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         |FROM afx4
         |UNION ALL
         |SELECT CAST(8 AS BIGINT), COUNT(*),
         |  CAST(SUM(CAST(csim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         |FROM afx8
         |ORDER BY k""".stripMargin),

    // INTRA-LIST DIVERSITY — the retrieval-quality metric that motivates
    // v14's MMR: how self-similar are a query's top-k results? ILD(k) =
    // mean pairwise cosine among the k returned vectors (LOWER = more
    // diverse); reporting ILD(5) next to ILD(20) shows how much the head
    // of the ranking concentrates relative to its candidate pool — the
    // diagnostic that says whether MMR re-ranking is worth running at
    // all. Plan shape: candidate generation is v01's partial-top-k (the
    // corpus never shuffles); the pair stage then touches only k rows
    // per query (10 and 190 pairs), joined back to embeddings by id —
    // bounded fan-out, no corpus² anywhere. Means follow the tx06
    // discipline (exact decimal sum, one pinned IEEE division — no
    // round-on-quotient hazard).
    QuerySpec("v26_ild_diversity", (s, dir) => {
      val e = emb(s, dir)
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("norm").as("qn"))
      // ONE brute-force top-20 pass serves both lists: TopKAggregator(20)
      // ranks by (sim DESC, c_id) exactly as TopKAggregator(5) does, so the
      // rnk ≤ 5 prefix IS the top-5 — the second corpus-wide scoring pass
      // the old two-call form paid is gone (r16, guide §1.2 "don't compute
      // things you throw away"). Barriered: both lists + their pair joins
      // consume it.
      val top20 = cosineTopK(e, qs, 20).localCheckpoint(true)
      def ild(k: Int, nCol: String, iCol: String): DataFrame = {
        val top = top20.filter(col("rnk") <= k).select(col("q_id"), col("c_id"))
        val we = top.join(
          e.select(col("vec_id").as("c_id"), col("emb"), col("norm")), "c_id")
        val a = we.select(col("q_id"), col("c_id").as("ia"),
          col("emb").as("ea"), col("norm").as("na"))
        val b = we.select(col("q_id"), col("c_id").as("ib"),
          col("emb").as("eb"), col("norm").as("nb"))
        a.join(b, Seq("q_id")).filter(col("ia") < col("ib"))
          .withColumn("ps", round(expr("graft_dot(ea, eb)")
            / (col("na") * col("nb")), 6))
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as(nCol),
            (sum(col("ps").cast("decimal(18,6)")).cast("double")
              / count(lit(1)).cast("double")).as(iCol))
      }
      ild(5, "n5", "ild5").join(ild(20, "n20", "ild20"), Seq("q_id"))
        .orderBy(col("q_id"))
    },
      // v01's brute top-k replay (both depths share one ranking CTE), then
      // pairwise cosines within each list — exact decimal sums, one pinned
      // IEEE division per mean
      s"""WITH $embSql,
         |q AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM e
         |      WHERE vec_id % 100 = 0),
         |p AS (
         |  SELECT q_id, vec_id,
         |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
         |  FROM e, q WHERE vec_id <> q_id),
         |r AS (
         |  SELECT q_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY sim DESC, vec_id) AS rnk
         |  FROM p),
         |t5 AS (SELECT q_id, vec_id FROM r WHERE rnk <= 5),
         |t20 AS (SELECT q_id, vec_id FROM r WHERE rnk <= 20),
         |i5 AS (
         |  SELECT a.q_id, COUNT(*) AS n5,
         |    CAST(SUM(CAST(ROUND(list_dot_product(ea.emb, eb.emb)
         |        / (ea.norm * eb.norm), 6) AS DECIMAL(18,6))) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) AS ild5
         |  FROM t5 a JOIN t5 b ON b.q_id = a.q_id AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  GROUP BY a.q_id),
         |i20 AS (
         |  SELECT a.q_id, COUNT(*) AS n20,
         |    CAST(SUM(CAST(ROUND(list_dot_product(ea.emb, eb.emb)
         |        / (ea.norm * eb.norm), 6) AS DECIMAL(18,6))) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) AS ild20
         |  FROM t20 a JOIN t20 b ON b.q_id = a.q_id AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  GROUP BY a.q_id)
         |SELECT q_id, n5, ild5, n20, ild20
         |FROM i5 JOIN i20 USING (q_id)
         |ORDER BY q_id""".stripMargin),

    // IVF WITH ADAPTIVE nlist ≈ ⌈√n⌉ — the production remedy the
    // round-10 cost ladder demanded: v05/v13's coarse cells are
    // per-label and FIXED in number, so candidates per probe grow ∝ n
    // and the all-queries total goes quadratic (measured 16.9× at 32×,
    // VLADDER.json). Deriving nlist from a broadcast corpus count holds
    // cell occupancy ≈ √n: scanned candidates per query ≈ nprobe·√n,
    // total O(q·√n) — sub-quadratic by construction, the FAISS
    // nlist≈√n rule. Same assign/probe/rerank plan as v05 (max-struct
    // assign, broadcast probes, corpus never shuffles); only the cell
    // FRAME changes.
    QuerySpec("v27_ivf_sqrtn_topk", (s, dir) => {
      val e = emb(s, dir)
      ivfTopKCents(e, sqrtSeedCents(e), nprobe = 2)
        .orderBy(col("q_id"), col("rnk"))
    },
      // v05's assign/probe/rerank replay over ⌈√n⌉ seed cells (scalar-
      // subquery count twin of sqrtSeedCents; sqrt is correctly-rounded
      // IEEE on both engines, ceil exact)
      s"""WITH $embSql,
         |k AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS kk FROM e),
         |cent AS (
         |  SELECT vec_id AS clabel, emb AS cvec, norm AS cnorm
         |  FROM e, k WHERE vec_id < kk),
         |sims AS (
         |  SELECT vec_id, emb, norm, clabel,
         |    ROUND(list_dot_product(emb, cvec) / (norm * cnorm), 6) AS csim
         |  FROM e, cent),
         |assign AS (
         |  SELECT vec_id, emb, norm, clabel AS cell FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY csim DESC, clabel) AS crn FROM sims)
         |  WHERE crn = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, emb AS qe, norm AS qn, clabel AS cell FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY csim DESC, clabel) AS crn FROM sims
         |    WHERE vec_id % 100 = 0)
         |  WHERE crn <= 2),
         |cand AS (
         |  SELECT q_id, vec_id AS c_id,
         |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
         |  FROM assign JOIN probes USING (cell) WHERE vec_id <> q_id),
         |r AS (
         |  SELECT q_id, c_id, sim, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, c_id) AS rnk FROM cand)
         |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, sim
         |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),

    // SEMANTIC DEDUP, SemDeDup-shaped (Abbas et al. 2023, public): cluster
    // the corpus with k-means (v15's iterated centroids), then find
    // near-duplicates ONLY within each cluster — pairwise cosine is
    // confined to cells, so pair work is Σ|cell|², never corpus² — and
    // collapse them to transitive groups (ConnectedComponents, tx14/v10's
    // kernel), keeping the lowest id per group. The contrast with v10 is
    // the candidate mechanism: v10 bounds pair work by LSH BUCKETS, this
    // bounds it by CLUSTER CELLS — the two public answers to the same
    // O(n²) problem, and the cell variant is the one that reuses an index
    // a curation pipeline already has (its k-means cluster map). k is
    // DATA-DERIVED — k = ⌈n/64⌉ via kmeansCentroidsAdaptive — so
    // ⟨cell⟩ ≈ 64 and within-cell pair enumeration (Σ|cell|²) is linear
    // in n BY CONSTRUCTION at any scale; the cross-cluster misses that
    // boundedness costs are the method's documented trade.
    QuerySpec("v16_semantic_dedup", (s, dir) => {
      val e = emb(s, dir)
      // af feeds THREE consumers (both pair sides + the final output);
      // without a barrier each re-derives the whole 2-iter Lloyd +
      // O(n·k) assign pipeline (round-10 plan audit: 3× the kmeans
      // subtree). The assignment is the "cluster map" a real curation
      // pipeline persists anyway — one eager localCheckpoint. The
      // carry-variant assign keeps emb/norm through the aggregate, so
      // the old corpus join-back to re-attach them is gone (r17).
      val af = kmeansAssignCarry(e, kmeansCentroidsAdaptive(e, iters = 2))
        .localCheckpoint(true)
      val a = af.select(col("cid"), col("vec_id").as("vec_a"),
        col("emb").as("emb_a"), col("norm").as("norm_a"))
      val b = af.select(col("cid"), col("vec_id").as("vec_b"),
        col("emb").as("emb_b"), col("norm").as("norm_b"))
      val pairs = a.join(b, Seq("cid")).filter(col("vec_a") < col("vec_b"))
        .withColumn("sim", round(expr("graft_dot(emb_a, emb_b)")
          / (col("norm_a") * col("norm_b")), 6))
        .filter(col("sim") >= 0.4)
        .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      val comp = graft.operators.ConnectedComponents.minLabel(pairs)
      af.select(col("vec_id"), col("cid"))
        .join(comp.select(col("id").as("vec_id"), col("label")), Seq("vec_id"), "left")
        .withColumn("canonical_id", coalesce(col("label"), col("vec_id")))
        .withColumn("is_kept", col("canonical_id") === col("vec_id"))
        .select(col("vec_id"), col("cid").as("cluster"), col("canonical_id"),
          col("is_kept"))
        .orderBy(col("vec_id"))
    },
      // v15's k-means replay (adaptive k = ceil(n/64) — the scalar-subquery
      // twin of kmeansCentroidsAdaptive) + within-cluster pair enumeration
      // + the same WITH RECURSIVE reachability closure as v10/tx14
      s"""WITH RECURSIVE $kmeansSqlAdaptive,
         |pr AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst
         |  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE ROUND(list_dot_product(ea.emb, eb.emb)
         |          / (ea.norm * eb.norm), 6) >= 0.4),
         |sym AS (SELECT src, dst FROM pr UNION ALL SELECT dst, src FROM pr),
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT sm.src, reach.r FROM sym sm JOIN reach ON sm.dst = reach.id),
         |comp AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id)
         |SELECT af.vec_id, af.cid AS cluster,
         |  COALESCE(comp.label, af.vec_id) AS canonical_id,
         |  COALESCE(comp.label, af.vec_id) = af.vec_id AS is_kept
         |FROM af LEFT JOIN comp ON comp.id = af.vec_id
         |ORDER BY af.vec_id""".stripMargin),

    // BINARY (sign) QUANTIZATION + Hamming prefilter — the fifth ANN
    // pillar (LSH / IVF / SQ8 / PQ / binary), and the one modern vector
    // stores reach for first at 100 TB: a 64-dim float vector compresses
    // to 64 BITS (32× vs float32), and candidate generation is popcount
    // on XOR — no floats, no multiplies, pure ALU. The sign bits pack
    // into TWO 32-bit halves (lo = dims 0–31, hi = 32–63) so the packed
    // words stay positive in both engines (bit 63 of a single BIGINT
    // would wrap signed). Hamming similarity (64 − ham)/64 is an exact
    // dyadic rational (≤ 6 decimals), so ranking is FP-drift-free by
    // construction. Top-C=30 Hamming survivors per query rerank at full
    // precision — v11's asymmetric-rerank shape with a 32×-smaller
    // candidate index. Scale: codes are map-side; the only shuffles are
    // the per-query top-C partial aggregate and the broadcast rerank.
    QuerySpec("v17_binary_topk", withHashAggBudget((s, dir) => {
      binaryTopK(emb(s, dir)).orderBy(col("q_id"), col("rnk"))
    }),
      // full replay of the binary-quantization pipeline: sign-bit pack into
      // the same two 32-bit halves → XOR/popcount Hamming → top-30 by
      // ((64−ham)/64 DESC, c_id) → exact cosine rerank. Hamming similarity
      // is an exact dyadic rational, so no ROUND is needed anywhere in the
      // candidate stage.
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |bits AS (
        |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |codes AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN x > 0 AND i <= 32
        |        THEN (1::BIGINT << CAST(i - 1 AS INT)) ELSE 0 END)::BIGINT AS lo,
        |    SUM(CASE WHEN x > 0 AND i > 32
        |        THEN (1::BIGINT << CAST(i - 33 AS INT)) ELSE 0 END)::BIGINT AS hi
        |  FROM bits GROUP BY vec_id),
        |q AS (SELECT c.vec_id AS q_id, e.emb AS qe, e.norm AS qn,
        |        c.lo AS qlo, c.hi AS qhi
        |      FROM codes c JOIN e ON e.vec_id = c.vec_id
        |      WHERE c.vec_id % 100 = 0),
        |cand AS (
        |  SELECT q_id, c.vec_id AS c_id,
        |    (64 - (bit_count(xor(c.lo, qlo)) + bit_count(xor(c.hi, qhi))))
        |      / 64.0 AS hsim
        |  FROM codes c, q WHERE c.vec_id <> q_id),
        |top30 AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY hsim DESC, c_id) AS r FROM cand)
        |  WHERE r <= 30),
        |rr AS (
        |  SELECT t.q_id, t.c_id,
        |    round(list_dot_product(qq.qe, c.emb) / (qq.qn * c.norm), 6) AS sim
        |  FROM top30 t JOIN q qq ON qq.q_id = t.q_id JOIN e c ON c.vec_id = t.c_id)
        |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, sim FROM (
        |  SELECT q_id, c_id, sim, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS rnk FROM rr)
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),

    // NEAREST-CENTROID CLASSIFICATION evaluation — the "is this embedding
    // space any good" diagnostic every labeled corpus gets before heavier
    // models: assign each vector to its highest-cosine label centroid
    // (v02's exact 6-dp centroids) and report the per-label confusion
    // diagonal. Assignment is the IVF coarse-quantizer aggregate (10
    // map-side dot products → one max-struct groupBy, ties to the lowest
    // label), so the plan is two hash aggregates and a broadcast — no
    // window, no pairwise stage. Self-inclusion (a vector contributes to
    // its own label's centroid) is the standard resubstitution estimate;
    // the oracle replays it identically.
    QuerySpec("v20_centroid_classify", (s, dir) => {
      val e = emb(s, dir)
      val cent = e.select(col("label"), posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("v")), 6).as("cv"))
        .groupBy(col("label"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, cv))), x -> x.cv)")
          .as("cvec"))
        .withColumn("cnorm", expr("sqrt(graft_dot(cvec, cvec))"))
      val assigned = fanout(e).crossJoin(broadcast(cent.select(
          col("label").as("clabel"), col("cvec"), col("cnorm"))))
        .withColumn("csim",
          round(expr("graft_dot(emb, cvec)") / (col("norm") * col("cnorm")), 6))
        .groupBy(col("vec_id"), col("label"))
        .agg(max(struct(col("csim"), (-col("clabel")).cast("long").as("negc")))
          .as("best"))
        .select(col("vec_id"), col("label"),
          (-col("best.negc")).cast("int").as("pred"))
      assigned.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n"), 6))
        .orderBy(col("label"))
    },
      // centroids → argmax assignment (ties to lowest label) → diagonal
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |cm AS (
        |  SELECT label, pos, ROUND(AVG(v), 6) AS cv FROM (
        |    SELECT label, unnest(embedding::DOUBLE[]) AS v,
        |      generate_subscripts(embedding, 1) AS pos
        |    FROM embeddings)
        |  GROUP BY label, pos),
        |c AS (
        |  SELECT label AS clabel, list(cv ORDER BY pos) AS cvec FROM cm
        |  GROUP BY label),
        |sc AS (
        |  SELECT e.vec_id, e.label, c.clabel,
        |    ROUND(list_dot_product(e.emb, c.cvec)
        |      / (e.norm * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS csim
        |  FROM e, c),
        |a AS (
        |  SELECT vec_id, label, clabel AS pred FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, clabel) AS rk FROM sc)
        |  WHERE rk = 1)
        |SELECT label, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  ROUND(CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS accuracy
        |FROM a GROUP BY label ORDER BY label""".stripMargin),

    // binary-quantization quality measurement, symmetric to v04 (LSH) and
    // v06 (IVF): fraction of the exact brute-force top-5 (v01's ground
    // truth) the sign-bit path recovers, with its cost column (n_cand =
    // 30 candidates/query exact-scored — the rerank budget dial). This
    // completes the recall row of the five-pillar ANN matrix.
    QuerySpec("v19_binary_recall", (s, dir) => {
      val e = emb(s, dir)
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("norm").as("qn"))
      val exact = cosineTopK(e, qs, 5).select(col("q_id"), col("c_id"))
      val approx = binaryTopK(e).select(col("q_id"), col("c_id"))
      val hit = approx.join(exact, Seq("q_id", "c_id"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .crossJoin(qs.agg((count(lit(1)) * 30).as("n_cand")))
        .withColumn("recall_at_5",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
    },
      // recall of the v17 pipeline against v01's exact ground truth
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM e
        |      WHERE vec_id % 100 = 0),
        |px AS (
        |  SELECT q_id, vec_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM e, q WHERE vec_id <> q_id),
        |ex AS (
        |  SELECT q_id, vec_id AS c_id FROM (
        |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, vec_id) AS rnk FROM px)
        |  WHERE rnk <= 5),
        |bits AS (
        |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |codes AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN x > 0 AND i <= 32
        |        THEN (1::BIGINT << CAST(i - 1 AS INT)) ELSE 0 END)::BIGINT AS lo,
        |    SUM(CASE WHEN x > 0 AND i > 32
        |        THEN (1::BIGINT << CAST(i - 33 AS INT)) ELSE 0 END)::BIGINT AS hi
        |  FROM bits GROUP BY vec_id),
        |qc AS (SELECT c.vec_id AS q_id, c.lo AS qlo, c.hi AS qhi
        |       FROM codes c WHERE c.vec_id % 100 = 0),
        |cand AS (
        |  SELECT q_id, c.vec_id AS c_id,
        |    (64 - (bit_count(xor(c.lo, qlo)) + bit_count(xor(c.hi, qhi))))
        |      / 64.0 AS hsim
        |  FROM codes c, qc WHERE c.vec_id <> q_id),
        |top30 AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY hsim DESC, c_id) AS r FROM cand)
        |  WHERE r <= 30),
        |rr AS (
        |  SELECT t.q_id, t.c_id,
        |    round(list_dot_product(qq.qe, c.emb) / (qq.qn * c.norm), 6) AS sim
        |  FROM top30 t JOIN q qq ON qq.q_id = t.q_id JOIN e c ON c.vec_id = t.c_id),
        |b5 AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, c_id) AS rnk FROM rr)
        |  WHERE rnk <= 5)
        |SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
        |  (SELECT COUNT(*) FROM b5 SEMI JOIN ex USING (q_id, c_id)) AS n_hit,
        |  (SELECT COUNT(*) * 30 FROM q) AS n_cand,
        |  ROUND((SELECT COUNT(*) FROM b5 SEMI JOIN ex USING (q_id, c_id))
        |    / CAST((SELECT COUNT(*) FROM ex) AS DOUBLE), 6) AS recall_at_5""".stripMargin),

    // FILTERED vector search — the metadata-predicate + ANN combination
    // every production vector store must get right (tenant / language /
    // permission filters): each query retrieves top-5 ONLY among corpus
    // vectors sharing its label. The filter is PRE-applied — it replaces
    // v01's crossJoin with an equi-join on the label key — not
    // post-applied to an unfiltered top-k, which silently returns < k
    // results when the filter is selective (the classic post-filter
    // correctness bug; here k is guaranteed wherever the stratum has ≥ k
    // members). Scale shape: the label join means each corpus row is
    // scored only against its stratum's queries — selectivity CUTS work
    // instead of wasting it — and the per-query top-k rides the same
    // partial TopKAggregator as v01 (shuffle carries
    // O(queries × partitions × k), never candidates).
    QuerySpec("v18_filtered_topk", (s, dir) => {
      val e = emb(s, dir)
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("emb").as("qe"), col("norm").as("qn"))
      val topk = udaf(new graft.functions.TopKAggregator(5))
      fanout(e)
        .join(broadcast(qs), col("label") === col("q_label"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim",
          round(expr("graft_dot(qe, emb)") / (col("qn") * col("norm")), 6))
        .groupBy(col("q_id"))
        .agg(topk(col("vec_id"), col("sim")).as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("i", "s")))
        .select(col("q_id"), (col("i") + 1).cast("long").as("rnk"),
          col("s.c_id").as("c_id"), col("s.sim").as("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
      // label-constrained exact top-5: the same v01 ranking inside each
      // query's label stratum
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS q_label, emb AS qe, norm AS qn
        |      FROM e WHERE vec_id % 100 = 0),
        |p AS (
        |  SELECT q_id, vec_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM e JOIN q ON e.label = q.q_label AND e.vec_id <> q.q_id),
        |r AS (
        |  SELECT q_id, vec_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
        |  FROM p)
        |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id AS c_id, sim
        |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),

    // Graph centrality over the similarity graph: integer-arithmetic
    // PageRank (3 damped power iterations) on the LSH near-neighbour pair
    // list — ranks similarity hubs for canonical-representative selection
    // / influence-weighted sampling. Edges come from the PRODUCTION
    // 60-plane/15-band dial (v07's: recall 0.936 vs the 16/4 config's
    // 0.512 — a centrality graph missing half its edges ranks the wrong
    // hubs). Edge-build scaling inherits the v09/v10 analysis verbatim
    // (PLANS.md): linear-at-scale exactly when the embedding space has a
    // similarity gap, with band width density-scaled to corpus size; the
    // RANK LOOP itself is scale-clean regardless — 3 rounds of one
    // |V|-row join+agg each against the checkpointed edge leaf, strictly
    // lighter than tx14's measured-sub-linear CC loop. See
    // [[graft.operators.PageRank]] for the all-integer determinism
    // argument.
    QuerySpec("v21_pagerank", (s, dir) => {
      // density-scaled width (derives (60,15,4) at gate scale — oracle
      // unchanged); the fixed-width edge stage was the ladder's 473 s
      val edges = lshPairsScaled(emb(s, dir), maxBands = 15,
        planesBudget = 60)
        .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      graft.operators.PageRank.integerRanks(edges, iters = 3)
        .select(col("id").as("vec_id"), col("deg"), col("rank"))
        .orderBy(col("vec_id"))
    },
      pageRankSql),

    // k-NN majority-vote classification eval — the neighbour-based twin
    // of v20's centroid classifier (together: the two standard
    // label-quality diagnostics for an embedding space). Each query's
    // exact top-5 (v01's partial-top-k aggregate — shuffle carries
    // O(queries × partitions × k), never candidates) votes by label;
    // ties break to the smallest label. The vote join carries the
    // queries×5 top list as the BROADCAST side against the narrow
    // (id, label) projection — corpus payloads never move. Output is
    // v20's per-label confusion-diagonal shape, so the two classifiers
    // are directly comparable.
    QuerySpec("v22_knn_classify", (s, dir) => {
      val e = emb(s, dir)
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("label").as("true_label"),
          col("emb").as("qe"), col("norm").as("qn"))
      val top = cosineTopK(e, qs.select(col("q_id"), col("qe"), col("qn")), 5)
      val votes = e.select(col("vec_id").as("c_id"), col("label").as("c_label"))
        .join(broadcast(top.select(col("q_id"), col("c_id"))), "c_id")
        .groupBy(col("q_id"), col("c_label"))
        .agg(count(lit(1)).as("nv"))
      val pred = votes.groupBy(col("q_id"))
        .agg(max(struct(col("nv"), (-col("c_label")).cast("long").as("negl")))
          .as("b"))
        .select(col("q_id"), (-col("b.negl")).cast("int").as("pred"))
      qs.select(col("q_id"), col("true_label"))
        .join(pred, "q_id")
        .groupBy(col("true_label").as("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === col("true_label"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n"), 6))
        .orderBy(col("label"))
    },
      // exact top-5 replay (v01's ranking) + per-query label vote with the
      // (count DESC, label ASC) tie-break, reduced to the confusion diagonal
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS tl, emb AS qe, norm AS qn
        |      FROM e WHERE vec_id % 100 = 0),
        |p AS (
        |  SELECT q_id, e.vec_id, e.label AS c_label,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM e, q WHERE e.vec_id <> q.q_id),
        |r AS (
        |  SELECT q_id, c_label FROM (
        |    SELECT q_id, c_label,
        |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
        |    FROM p) WHERE rnk <= 5),
        |v AS (SELECT q_id, c_label, COUNT(*) AS nv FROM r GROUP BY q_id, c_label),
        |pr AS (
        |  SELECT q_id, c_label AS pred FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY nv DESC, c_label) AS rn FROM v) WHERE rn = 1)
        |SELECT q.tl AS label, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN pr.pred = q.tl THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  ROUND(CAST(SUM(CASE WHEN pr.pred = q.tl THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS accuracy
        |FROM q JOIN pr USING (q_id) GROUP BY q.tl ORDER BY label""".stripMargin),

    // DIMENSION-TRUNCATION recall curve (the Matryoshka/MRL deployment
    // question: how much of the 64-dim ranking survives searching only
    // the first 16 / 32 dims?): recall@5 of truncated-dot top-5 vs the
    // full-dim exact ground truth, one row per truncation. Truncated
    // search is v01's exact partial-top-k shape with sliced vectors —
    // at scale the win is proportional bandwidth (a 16-dim scan reads ¼
    // the bytes; with column-chunked vector storage the slice prunes at
    // the scan). Output = the dial curve a deployer actually reads.
    // Measured on THIS fixture: 0.08 @ 16 dims, 0.36 @ 32 (sf0.1) — an
    // honest negative: uniform-random vectors spread information evenly
    // across dims, so truncation destroys the ranking. Matryoshka-trained
    // embeddings concentrate it in the prefix; the curve is the
    // diagnostic that tells you which kind you're holding.
    QuerySpec("v23_dim_truncation_recall", (s, dir) => {
      val e = emb(s, dir)
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("norm").as("qn"))
      // five consumers (2 semi-joins + 2 n_exact aggs + ...) — barrier the
      // brute-force pass once (r16)
      val exact = cosineTopK(e, qs, 5).select(col("q_id"), col("c_id"))
        .localCheckpoint(true)
      val curves = Seq(16, 32).map { d =>
        val ec = e.select(col("vec_id"),
          expr(s"slice(emb, 1, $d)").as("emb"))
          .withColumn("norm", expr("sqrt(graft_dot(emb, emb))"))
        val qc = ec.filter(expr("vec_id % 100 = 0"))
          .select(col("vec_id").as("q_id"), col("emb").as("qe"),
            col("norm").as("qn"))
        val approx = cosineTopK(ec, qc, 5).select(col("q_id"), col("c_id"))
        val hit = approx.join(exact, Seq("q_id", "c_id"), "left_semi")
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
          .select(lit(d.toLong).as("dims"), col("n_exact"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_exact"), 6)
              .as("recall_at_5"))
      }
      curves.reduce(_.union(_)).orderBy(col("dims"))
    },
      // both truncations replayed against the full-dim exact top-5
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn
        |      FROM e WHERE vec_id % 100 = 0),
        |px AS (
        |  SELECT q_id, e.vec_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM e, q WHERE e.vec_id <> q.q_id),
        |ex AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
        |    FROM px) WHERE rnk <= 5),
        |dd AS (SELECT CAST(unnest([16, 32]) AS BIGINT) AS dims),
        |te AS (
        |  SELECT dims, vec_id, emb[1:CAST(dims AS INT)] AS temb,
        |    sqrt(list_dot_product(emb[1:CAST(dims AS INT)],
        |                          emb[1:CAST(dims AS INT)])) AS tnorm
        |  FROM e, dd),
        |tq AS (SELECT dims, vec_id AS q_id, temb AS tqe, tnorm AS tqn
        |       FROM te WHERE vec_id % 100 = 0),
        |tp AS (
        |  SELECT t.dims, q_id, t.vec_id,
        |    ROUND(list_dot_product(tqe, t.temb) / (tqn * t.tnorm), 6) AS sim
        |  FROM te t JOIN tq ON tq.dims = t.dims AND t.vec_id <> tq.q_id),
        |tr AS (SELECT dims, q_id, vec_id FROM (
        |    SELECT dims, q_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY dims, q_id
        |        ORDER BY sim DESC, vec_id) AS rnk
        |    FROM tp) WHERE rnk <= 5),
        |h AS (SELECT dims, COUNT(*) AS n_hit
        |      FROM tr SEMI JOIN ex USING (q_id, vec_id) GROUP BY dims)
        |SELECT dd.dims, (SELECT COUNT(*) FROM ex) AS n_exact,
        |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(CAST(COALESCE(n_hit, 0) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM ex), 6) AS recall_at_5
        |FROM dd LEFT JOIN h USING (dims) ORDER BY dims""".stripMargin),

    // TRIANGLE COUNTING on the semantic-similarity graph (v21's LSH edge
    // list) — the local-clustering signal that separates a tight semantic
    // cluster (many triangles) from a hub-and-spoke artifact of one
    // promiscuous vector (many edges, few triangles); alongside v21's
    // PageRank these are the two standard graph diagnostics over an ANN
    // pair graph. Algorithm: degree-ordered orientation ("compact
    // forward") — every edge points from its (deg, id)-smaller endpoint,
    // wedges are enumerated at each edge's source, and a wedge closes
    // iff its (v, w) is itself an oriented edge, so each triangle is
    // found EXACTLY once at its lowest-order vertex. Scale shape: the
    // wedge fan-out is Σ out-deg², and degree-ordering bounds out-degree
    // by the graph's degeneracy (a hub's edges point INTO it, so the
    // hub never centers a wedge) — the textbook reason this survives
    // power-law graphs where id-ordering explodes. All joins carry
    // (id, id) frames; embeddings never move past the LSH scoring.
    QuerySpec("v28_graph_triangles", (s, dir) => {
      // density-scaled width (derives (60,15,4) at gate scale — oracle
      // unchanged), v10/v21/v30's edge-stage discipline
      val edges = lshPairsScaled(emb(s, dir), maxBands = 15,
        planesBudget = 60)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
      graft.operators.Triangles.perVertexCounts(edges)
        .select(col("id").as("vec_id"), col("n_tri"))
        .orderBy(col("vec_id"))
    },
      // v28: v21's exact LSH edge replay (60 planes / 15 bands, sim ≥ 0.3),
      // then compact-forward triangles — (deg, id) row-value comparisons
      // orient edges and order wedge pairs identically on both engines;
      // COUNT is BIGINT on both (no sum to pin)
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |s AS (SELECT vec_id, emb, norm,
        |  CAST(list_sum(list_transform(range(0, 60), i ->
        |    CASE WHEN list_sum(list_transform(range(0, 64), j ->
        |      emb[CAST(j + 1 AS INT)] * ((73856093::BIGINT * (i + 1) * (j + 7)) % 2001 - 1000)))
        |    >= 0 THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS sig FROM e),
        |bands AS (SELECT vec_id, b, (sig >> CAST(4 * b AS INT)) & 15 AS bv
        |          FROM s, range(0, 15) t(b)),
        |p AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        |      FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv AND a.vec_id < c.vec_id),
        |x AS (SELECT vec_a, vec_b
        |      FROM p JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b
        |      WHERE round(list_dot_product(ea.emb, eb.emb) / (ea.norm * eb.norm), 6) >= 0.3),
        |ed AS (SELECT vec_a AS id FROM x UNION ALL SELECT vec_b FROM x),
        |deg AS (SELECT id, COUNT(*) AS deg FROM ed GROUP BY id),
        |oe AS (
        |  SELECT CASE WHEN (da.deg, x.vec_a) < (db.deg, x.vec_b)
        |           THEN x.vec_a ELSE x.vec_b END AS u,
        |         CASE WHEN (da.deg, x.vec_a) < (db.deg, x.vec_b)
        |           THEN x.vec_b ELSE x.vec_a END AS v,
        |         CASE WHEN (da.deg, x.vec_a) < (db.deg, x.vec_b)
        |           THEN db.deg ELSE da.deg END AS vdeg
        |  FROM x JOIN deg da ON da.id = x.vec_a
        |         JOIN deg db ON db.id = x.vec_b),
        |wg AS (
        |  SELECT a.u, a.v AS v, b.v AS w
        |  FROM oe a JOIN oe b ON a.u = b.u
        |    AND (a.vdeg, a.v) < (b.vdeg, b.v)),
        |tri AS (
        |  SELECT wg.u, wg.v, wg.w
        |  FROM wg SEMI JOIN oe t ON t.u = wg.v AND t.v = wg.w),
        |tv AS (SELECT u AS id FROM tri
        |       UNION ALL SELECT v FROM tri
        |       UNION ALL SELECT w FROM tri)
        |SELECT id AS vec_id, COUNT(*) AS n_tri
        |FROM tv GROUP BY id ORDER BY vec_id""".stripMargin),

    // TRIANGLES ON THE IVF-BOUNDED GRAPH — v28's kernel fed by the
    // candidate generator that SURVIVES the 32× rung where the LSH
    // edge list died of shuffle spill (PLANS.md new-op ladder): edges
    // are same-cell pairs under v27's ⌈√n⌉ coarse cells, so pair work
    // is Σ|cell|² ≈ n·√n BY CONSTRUCTION instead of the fixed-band
    // LSH's n². The trade is recall at the cell boundary (a triangle
    // spanning two cells is missed — the SemDeDup/v16 trade, accepted
    // and documented there); the payoff is an edge stage that scales.
    // The assignment frame is checkpointed (two pair-side consumers),
    // and Triangles checkpoints its own oriented list.
    QuerySpec("v31_graph_triangles_ivf", (s, dir) => {
      val e = emb(s, dir)
      val cells = coarseAssign(e, sqrtSeedCents(e)).localCheckpoint(true)
      val a = cells.select(col("cell"), col("vec_id").as("vec_a"),
        col("emb").as("emb_a"), col("norm").as("norm_a"))
      val b = cells.select(col("cell"), col("vec_id").as("vec_b"),
        col("emb").as("emb_b"), col("norm").as("norm_b"))
      val edges = a.join(b, Seq("cell")).filter(col("vec_a") < col("vec_b"))
        .withColumn("sim", round(expr("graft_dot(emb_a, emb_b)")
          / (col("norm_a") * col("norm_b")), 6))
        .filter(col("sim") >= 0.3)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
      graft.operators.Triangles.perVertexCounts(edges)
        .select(col("id").as("vec_id"), col("n_tri"))
        .orderBy(col("vec_id"))
    },
      // v31: v27's sqrt-cell assign replay (ROW_NUMBER argmax) → same-cell
      // scored pairs → v28's compact-forward triangle tail verbatim
      s"""WITH $embSql,
         |nn AS (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS kk FROM e),
         |cents AS (SELECT vec_id AS clabel, emb AS cvec, norm AS cnorm
         |          FROM e, nn WHERE vec_id < kk),
         |cells AS (SELECT vec_id, emb, norm, clabel AS cell FROM (
         |  SELECT e.vec_id, e.emb, e.norm, c.clabel,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |      round(list_dot_product(e.emb, c.cvec)
         |        / (e.norm * c.cnorm), 6) DESC, c.clabel) AS rn
         |  FROM e, cents c) WHERE rn = 1),
         |x AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM cells a JOIN cells b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_dot_product(a.emb, b.emb)
         |          / (a.norm * b.norm), 6) >= 0.3),
         |ed AS (SELECT vec_a AS id FROM x UNION ALL SELECT vec_b FROM x),
         |deg AS (SELECT id, COUNT(*) AS deg FROM ed GROUP BY id),
         |oe AS (
         |  SELECT CASE WHEN (da.deg, x.vec_a) < (db.deg, x.vec_b)
         |           THEN x.vec_a ELSE x.vec_b END AS u,
         |         CASE WHEN (da.deg, x.vec_a) < (db.deg, x.vec_b)
         |           THEN x.vec_b ELSE x.vec_a END AS v,
         |         CASE WHEN (da.deg, x.vec_a) < (db.deg, x.vec_b)
         |           THEN db.deg ELSE da.deg END AS vdeg
         |  FROM x JOIN deg da ON da.id = x.vec_a
         |         JOIN deg db ON db.id = x.vec_b),
         |wg AS (
         |  SELECT a.u, a.v AS v, b.v AS w
         |  FROM oe a JOIN oe b ON a.u = b.u
         |    AND (a.vdeg, a.v) < (b.vdeg, b.v)),
         |tri AS (
         |  SELECT wg.u, wg.v, wg.w
         |  FROM wg SEMI JOIN oe t ON t.u = wg.v AND t.v = wg.w),
         |tv AS (SELECT u AS id FROM tri
         |       UNION ALL SELECT v FROM tri
         |       UNION ALL SELECT w FROM tri)
         |SELECT id AS vec_id, COUNT(*) AS n_tri
         |FROM tv GROUP BY id ORDER BY vec_id""".stripMargin),

    // 3-CORE of the semantic-similarity graph — the graph-cohesion
    // member of the diagnostic trio (v21 PageRank = centrality, v28
    // triangles = local clustering, this = community cohesion): a
    // vector survives iff ≥ 3 of its similarity neighbors ALSO survive,
    // which strips pendant chains and weak bridges that triangle counts
    // alone can miss, leaving the dense semantic cores a curation
    // pipeline treats as topical clusters. Fixed 6-round peeling (part
    // of the operator definition, replayed verbatim by the oracle;
    // extra rounds past convergence are no-ops — see KCore scaladoc).
    QuerySpec("v30_kcore", (s, dir) => {
      // density-scaled width (derives (60,15,4) at gate scale — oracle
      // unchanged); the fixed-width edge stage was the ladder's 587 s
      val edges = lshPairsScaled(emb(s, dir), maxBands = 15,
        planesBudget = 60)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
      graft.operators.KCore.core(edges, k = 3, rounds = 6)
        .select(col("id").as("vec_id"), col("core_deg"))
        .orderBy(col("vec_id"))
    },
      // v30: v21's LSH edge replay + 6 unrolled peel rounds; COUNT is
      // BIGINT on both engines
      kcoreSql),

    // TWO-LEVEL (hierarchical) ASSIGNMENT SemDeDup — the implemented
    // form of the remedy v16's scaladoc and the round-10 cost ladder
    // only PROMISED: v16's assign evaluates all k = ⌈n/64⌉ centroids
    // per vector (O(n·k) = O(n²/64) flops — its measured 3.0× growth at
    // 32×), while this routes each vector through kc = ⌈√k⌉ coarse
    // seeds, then only the fine seeds INSIDE the chosen coarse cell:
    // ~kc + k/kc ≈ 2√k dots per vector, O(n·√n) total — the same √n
    // sizing move as v27's IVF, applied to the dedup quantizer. Seeds
    // are used un-refined (no Lloyd) so the query isolates the
    // assignment term; v16 remains the Lloyd-refined quality path, and
    // the two outputs are directly comparable (same pair threshold,
    // same CC canonicalization, same schema). The within-cell pair
    // stage and min-label components are exactly v16's. The assignment
    // frame feeds three consumers — checkpointed once, like v16.
    QuerySpec("v29_semdedup_2level", (s, dir) => {
      val e = emb(s, dir)
      val kf = e.agg(
        ceil(count(lit(1)).cast("double") / 64.0).cast("long").as("kk"))
        .withColumn("kc", ceil(sqrt(col("kk").cast("double"))).cast("long"))
      val fine = e.crossJoin(broadcast(kf))
        .filter(col("vec_id") < col("kk"))
        .select(col("vec_id").as("fid"), col("emb").as("fvec"),
          col("norm").as("fnorm"))
      val coarse = e.crossJoin(broadcast(kf))
        .filter(col("vec_id") < col("kc"))
        .select(col("vec_id").as("ccid"), col("emb").as("cvec"),
          col("norm").as("cnorm"))
      // fine seed → coarse cell routing table (k × kc dots, broadcast)
      val f2c = fine.crossJoin(broadcast(coarse))
        .withColumn("csim", round(expr("graft_dot(fvec, cvec)")
          / (col("fnorm") * col("cnorm")), 6))
        .groupBy(col("fid"))
        .agg(max(struct(col("csim"), (-col("ccid")).as("negc"))).as("b"),
          first(col("fvec")).as("fvec"), first(col("fnorm")).as("fnorm"))
        .select(col("fid"), col("fvec"), col("fnorm"),
          (-col("b.negc")).as("ccid"))
      // stage 1: every vector → coarse cell — the map-side argmax kernel
      // over a one-row broadcast of the coarse cells (r17; the historical
      // max-struct + first(emb) groupBy was an n-row shuffle through an
      // ObjectHashAggregate whose 128-group fallback sorts the n×kc
      // fanout at scale — see coarseAssign)
      val coarseArr = coarse.agg(array_sort(collect_list(struct(
        col("ccid").cast("long").as("cid"), col("cvec"), col("cnorm"))))
        .as("cents"))
      val dc = fanout(e).crossJoin(broadcast(coarseArr))
        .withColumn("b", expr("graft_cos_argmax(emb, norm, cents)"))
        // sentinel: see kmeansAssign (kills the inferred-isnotnull double eval)
        .select(col("vec_id"), col("emb"), col("norm"),
          coalesce(col("b.cid"), lit(-1L)).as("ccid"))
      // stage 2: fine argmax INSIDE the chosen coarse cell (~√k dots) —
      // the fine seeds grouped per coarse cell (kc rows, broadcast), the
      // argmax again in-row; the inner join drops vectors whose coarse
      // cell has no fine seed exactly as the old join+groupBy did
      val f2cArr = f2c.groupBy(col("ccid"))
        .agg(array_sort(collect_list(struct(col("fid").cast("long").as("cid"),
          col("fvec").as("cvec"), col("fnorm").as("cnorm")))).as("cents"))
      val af = dc.join(broadcast(f2cArr), Seq("ccid"))
        .withColumn("b", expr("graft_cos_argmax(emb, norm, cents)"))
        // sentinel: see kmeansAssign (kills the inferred-isnotnull double eval)
        .select(col("vec_id"), coalesce(col("b.cid"), lit(-1L)).as("cid"),
          col("emb"), col("norm"))
        .localCheckpoint(true)
      val a = af.select(col("cid"), col("vec_id").as("vec_a"),
        col("emb").as("emb_a"), col("norm").as("norm_a"))
      val b = af.select(col("cid"), col("vec_id").as("vec_b"),
        col("emb").as("emb_b"), col("norm").as("norm_b"))
      val pairs = a.join(b, Seq("cid")).filter(col("vec_a") < col("vec_b"))
        .withColumn("sim", round(expr("graft_dot(emb_a, emb_b)")
          / (col("norm_a") * col("norm_b")), 6))
        .filter(col("sim") >= 0.4)
        .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      val comp = graft.operators.ConnectedComponents.minLabel(pairs)
      af.select(col("vec_id"), col("cid"))
        .join(comp.select(col("id").as("vec_id"), col("label")),
          Seq("vec_id"), "left")
        .withColumn("canonical_id", coalesce(col("label"), col("vec_id")))
        .withColumn("is_kept", col("canonical_id") === col("vec_id"))
        .select(col("vec_id"), col("cid").as("cluster"),
          col("canonical_id"), col("is_kept"))
        .orderBy(col("vec_id"))
    },
      // v29: the two-level assignment replay — un-refined seeds (first k
      // as fine, first ⌈√k⌉ as coarse), ROW_NUMBER argmax at each level
      // (== Spark's max-struct with ties to the lowest id), then v16's
      // within-cell pair scan and recursive reachability closure verbatim
      s"""WITH RECURSIVE $embSql,
         |nn AS (SELECT CAST(CEIL(COUNT(*) / 64.0) AS BIGINT) AS k,
         |    CAST(CEIL(SQRT(CEIL(COUNT(*) / 64.0))) AS BIGINT) AS kc
         |  FROM e),
         |fine AS (SELECT vec_id AS fid, emb AS fvec, norm AS fnorm
         |  FROM e, nn WHERE vec_id < k),
         |coarse AS (SELECT vec_id AS ccid, emb AS cvec, norm AS cnorm
         |  FROM e, nn WHERE vec_id < kc),
         |f2c AS (SELECT fid, fvec, fnorm, ccid FROM (
         |  SELECT f.fid, f.fvec, f.fnorm, c.ccid,
         |    ROW_NUMBER() OVER (PARTITION BY f.fid ORDER BY
         |      round(list_dot_product(f.fvec, c.cvec)
         |        / (f.fnorm * c.cnorm), 6) DESC, c.ccid) AS rn
         |  FROM fine f, coarse c) WHERE rn = 1),
         |dc AS (SELECT vec_id, emb, norm, ccid FROM (
         |  SELECT e.vec_id, e.emb, e.norm, c.ccid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |      round(list_dot_product(e.emb, c.cvec)
         |        / (e.norm * c.cnorm), 6) DESC, c.ccid) AS rn
         |  FROM e, coarse c) WHERE rn = 1),
         |af AS (SELECT vec_id, cid, emb, norm FROM (
         |  SELECT d.vec_id, f.fid AS cid, d.emb, d.norm,
         |    ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
         |      round(list_dot_product(d.emb, f.fvec)
         |        / (d.norm * f.fnorm), 6) DESC, f.fid) AS rn
         |  FROM dc d JOIN f2c f ON f.ccid = d.ccid) WHERE rn = 1),
         |pr AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst
         |  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE ROUND(list_dot_product(a.emb, b.emb)
         |          / (a.norm * b.norm), 6) >= 0.4),
         |sym AS (SELECT src, dst FROM pr UNION ALL SELECT dst, src FROM pr),
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT sm.src, reach.r FROM sym sm JOIN reach ON sm.dst = reach.id),
         |comp AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id)
         |SELECT af.vec_id, af.cid AS cluster,
         |  COALESCE(comp.label, af.vec_id) AS canonical_id,
         |  COALESCE(comp.label, af.vec_id) = af.vec_id AS is_kept
         |FROM af LEFT JOIN comp ON comp.id = af.vec_id
         |ORDER BY af.vec_id""".stripMargin),

    // CASCADE RETRIEVAL — the production multi-stage ANN shape the five
    // single-index pillars compose into: a cheap wide stage prunes for a
    // costlier narrow stage, each stage scoring one order of magnitude
    // fewer candidates at one order more precision. Stage 1: 64-bit
    // sign-bit Hamming (2 popcounts/candidate) keeps top-100 per query;
    // stage 2: SQ8 asymmetric cosine (v11's dequantized codes, computed
    // only for survivors — at rest the codes ARE the stored index) keeps
    // top-15; stage 3: full-precision rerank emits top-5. The result row
    // reports the measured recall@5 against v01's exact ground truth next
    // to each stage's scored-candidate count — the cost/quality ledger.
    // Scale shape: stage 1 is the only corpus-wide pass (map-side popcount
    // + partial TopKAggregator, shuffle O(q×partitions×100)); stages 2-3
    // ride query-count-sized frames. Each survivor frame feeds two
    // consumers (next stage + its cost count) → eager checkpoints, the
    // multi-consumer rule; all are ≤ q×100 rows.
    QuerySpec("v32_cascade_topk", withHashAggBudget((s, dir) => {
      val e = emb(s, dir)
      val packLo =
        "aggregate(transform(slice(emb, 1, 32), (x, i) -> " +
          "IF(x > 0D, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
          "CAST(0 AS BIGINT), (acc, b) -> acc + b)"
      val packHi =
        "aggregate(transform(slice(emb, 33, 32), (x, i) -> " +
          "IF(x > 0D, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
          "CAST(0 AS BIGINT), (acc, b) -> acc + b)"
      val coded = e.select(col("vec_id"), col("emb"), col("norm"),
        expr(packLo).as("lo"), expr(packHi).as("hi"))
      val qs = coded.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("norm").as("qn"), col("lo").as("qlo"), col("hi").as("qhi"))
      val topC = udaf(new graft.functions.TopKAggregator(100))
      // the three cascade stages are a data-dependent barrier CHAIN while
      // the exact ground truth is independent — overlap them (§2.6) so the
      // brute-force arm rides the cascade's scheduling slack
      val Seq(Seq(st1, st2, casc), Seq(exact)) = inParallel(
        () => {
          val st1 = fanout(coded.select(col("vec_id"), col("lo"), col("hi")))
            .crossJoin(broadcast(qs.select(col("q_id"), col("qlo"), col("qhi"))))
            .filter(col("vec_id") =!= col("q_id"))
            .withColumn("hsim", (lit(64) -
              expr("bit_count(lo ^ qlo) + bit_count(hi ^ qhi)")).cast("double")
              / lit(64.0))
            .groupBy(col("q_id"))
            .agg(topC(col("vec_id"), col("hsim")).as("top"))
            .select(col("q_id"),
              explode(expr("transform(top, s -> s.c_id)")).as("c_id"))
            .localCheckpoint(true)
          // stage 2: SQ8 asymmetric scoring of survivors (v11's quantizer —
          // per-dim min/max one-row broadcast, dequantize, cosine vs raw query)
          val mm = e.select(posexplode(col("emb")).as(Seq("pos", "x")))
            .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
            .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("mns"),
              array_sort(collect_list(struct(col("pos"), col("mx")))).as("mxs"))
            .select(expr("transform(mns, s -> s.mn)").as("mn"),
              expr("transform(mxs, s -> s.mx)").as("mx"))
          val w2 = Window.partitionBy(col("q_id")).orderBy(col("asim").desc, col("c_id"))
          val st2 = e.join(broadcast(st1), col("vec_id") === col("c_id"))
            .crossJoin(broadcast(mm))
            .withColumn("dq", expr(
              "transform(emb, (x, i) -> mn[i] + cast(round((x - mn[i]) * 255.0D / (mx[i] - mn[i])) as int) * (mx[i] - mn[i]) / 255.0D)"))
            .withColumn("dqn", expr("sqrt(graft_dot(dq, dq))"))
            .join(broadcast(qs.select(col("q_id"), col("qe"), col("qn"))), Seq("q_id"))
            .withColumn("asim",
              round(expr("graft_dot(qe, dq)") / (col("qn") * col("dqn")), 6))
            .withColumn("r", row_number().over(w2))
            .filter(col("r") <= 15)
            .select(col("q_id"), col("c_id"))
            .localCheckpoint(true)
          val w3 = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
          val casc = e.join(broadcast(st2), col("vec_id") === col("c_id"))
            .join(broadcast(qs.select(col("q_id"), col("qe"), col("qn"))), Seq("q_id"))
            .withColumn("sim",
              round(expr("graft_dot(qe, emb)") / (col("qn") * col("norm")), 6))
            .withColumn("rnk", row_number().over(w3))
            .filter(col("rnk") <= 5)
            .select(col("q_id"), col("c_id"))
            .localCheckpoint(true)
          Seq(st1, st2, casc)
        },
        () => Seq(cosineTopK(e, qs.select(col("q_id"), col("qe"), col("qn")), 5)
          .select(col("q_id"), col("c_id"))
          .localCheckpoint(true)))
      val hit = casc.join(exact, Seq("q_id", "c_id"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(st1.agg(count(lit(1)).as("n_stage1")))
        .crossJoin(st2.agg(count(lit(1)).as("n_stage2")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .withColumn("recall_at_5",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
    }),
      // full three-stage replay: sign-bit codes → Hamming top-100 → SQ8
      // dequantize (survivors only) → asymmetric top-15 → exact rerank
      // top-5 → recall vs the brute-force ground truth
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |bits AS (
        |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |codes AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN x > 0 AND i <= 32
        |        THEN (1::BIGINT << CAST(i - 1 AS INT)) ELSE 0 END)::BIGINT AS lo,
        |    SUM(CASE WHEN x > 0 AND i > 32
        |        THEN (1::BIGINT << CAST(i - 33 AS INT)) ELSE 0 END)::BIGINT AS hi
        |  FROM bits GROUP BY vec_id),
        |q AS (SELECT c.vec_id AS q_id, e.emb AS qe, e.norm AS qn,
        |        c.lo AS qlo, c.hi AS qhi
        |      FROM codes c JOIN e ON e.vec_id = c.vec_id
        |      WHERE c.vec_id % 100 = 0),
        |cand1 AS (
        |  SELECT q_id, c.vec_id AS c_id,
        |    (64 - (bit_count(xor(c.lo, qlo)) + bit_count(xor(c.hi, qhi))))
        |      / 64.0 AS hsim
        |  FROM codes c, q WHERE c.vec_id <> q_id),
        |st1 AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY hsim DESC, c_id) AS r FROM cand1)
        |  WHERE r <= 100),
        |d AS (SELECT unnest(embedding::DOUBLE[]) AS x,
        |        generate_subscripts(embedding, 1) AS sub FROM embeddings),
        |mmr AS (SELECT sub, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY sub),
        |mma AS (SELECT list(mn ORDER BY sub) AS mn, list(mx ORDER BY sub) AS mx
        |        FROM mmr),
        |cd AS (
        |  SELECT t.q_id, t.c_id,
        |    list_transform(range(0, 64), i ->
        |      mn[CAST(i + 1 AS INT)] +
        |      CAST(round((c.emb[CAST(i + 1 AS INT)] - mn[CAST(i + 1 AS INT)]) * 255.0
        |             / (mx[CAST(i + 1 AS INT)] - mn[CAST(i + 1 AS INT)])) AS INT)
        |        * (mx[CAST(i + 1 AS INT)] - mn[CAST(i + 1 AS INT)]) / 255.0) AS dq
        |  FROM st1 t JOIN e c ON c.vec_id = t.c_id, mma),
        |sc2 AS (
        |  SELECT cd.q_id, cd.c_id,
        |    round(list_dot_product(qq.qe, dq)
        |      / (qq.qn * sqrt(list_dot_product(dq, dq))), 6) AS asim
        |  FROM cd JOIN q qq ON qq.q_id = cd.q_id),
        |st2 AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY asim DESC, c_id) AS r FROM sc2)
        |  WHERE r <= 15),
        |rr AS (
        |  SELECT t.q_id, t.c_id,
        |    round(list_dot_product(qq.qe, c.emb) / (qq.qn * c.norm), 6) AS sim
        |  FROM st2 t JOIN q qq ON qq.q_id = t.q_id JOIN e c ON c.vec_id = t.c_id),
        |casc AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, c_id) AS rnk FROM rr)
        |  WHERE rnk <= 5),
        |px AS (
        |  SELECT q_id, vec_id AS c_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM e, q WHERE vec_id <> q_id),
        |ex AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, c_id) AS rnk FROM px)
        |  WHERE rnk <= 5)
        |SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
        |  (SELECT COUNT(*) FROM st1) AS n_stage1,
        |  (SELECT COUNT(*) FROM st2) AS n_stage2,
        |  (SELECT COUNT(*) FROM casc SEMI JOIN ex USING (q_id, c_id)) AS n_hit,
        |  ROUND((SELECT COUNT(*) FROM casc SEMI JOIN ex USING (q_id, c_id))
        |    / CAST((SELECT COUNT(*) FROM ex) AS DOUBLE), 6) AS recall_at_5""".stripMargin),

    // CASCADE BUDGET CURVE — v32's stage-1 width C1 swept over
    // {30, 100, 300} in ONE corpus pass: the Hamming stage keeps top-300
    // once, and because the top-k aggregator emits its candidates already
    // (sim DESC, c_id) sorted, each narrower arm is a PREFIX slice
    // (pos < C1) of the same ranked frame — three budget points for the
    // price of one scan (the v24 nprobe-curve discipline applied to the
    // cascade's dial). Downstream SQ8 + exact stages ride (arm × query)-
    // sized frames; recall@5 per arm against the shared exact ground
    // truth. This is the measured cost/recall curve a serving team reads
    // before picking C1.
    QuerySpec("v33_cascade_budget_curve", withHashAggBudget((s, dir) => {
      val e = emb(s, dir)
      val packLo =
        "aggregate(transform(slice(emb, 1, 32), (x, i) -> " +
          "IF(x > 0D, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
          "CAST(0 AS BIGINT), (acc, b) -> acc + b)"
      val packHi =
        "aggregate(transform(slice(emb, 33, 32), (x, i) -> " +
          "IF(x > 0D, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
          "CAST(0 AS BIGINT), (acc, b) -> acc + b)"
      val coded = e.select(col("vec_id"), col("emb"), col("norm"),
        expr(packLo).as("lo"), expr(packHi).as("hi"))
      val qs = coded.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("norm").as("qn"), col("lo").as("qlo"), col("hi").as("qhi"))
      val topC = udaf(new graft.functions.TopKAggregator(300))
      // the Hamming ranking barrier and the exact ground truth are
      // independent — overlap their materialization jobs (§2.6)
      val Seq(ranked, exact) = inParallel(
        () => fanout(coded.select(col("vec_id"), col("lo"), col("hi")))
          .crossJoin(broadcast(qs.select(col("q_id"), col("qlo"), col("qhi"))))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("hsim", (lit(64) -
            expr("bit_count(lo ^ qlo) + bit_count(hi ^ qhi)")).cast("double")
            / lit(64.0))
          .groupBy(col("q_id"))
          .agg(topC(col("vec_id"), col("hsim")).as("top"))
          .select(col("q_id"),
            posexplode(expr("transform(top, s -> s.c_id)"))
              .as(Seq("pos", "c_id")))
          .localCheckpoint(true),
        () => cosineTopK(e, qs.select(col("q_id"), col("qe"), col("qn")), 5)
          .select(col("q_id"), col("c_id"))
          .localCheckpoint(true))
      val armed = ranked
        .select(col("q_id"), col("pos"), col("c_id"),
          explode(expr("array(30, 100, 300)")).as("c1"))
        .filter(col("pos") < col("c1"))
      val mm = e.select(posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("mns"),
          array_sort(collect_list(struct(col("pos"), col("mx")))).as("mxs"))
        .select(expr("transform(mns, s -> s.mn)").as("mn"),
          expr("transform(mxs, s -> s.mx)").as("mx"))
      val w2 = Window.partitionBy(col("c1"), col("q_id"))
        .orderBy(col("asim").desc, col("c_id"))
      val st2 = e.join(broadcast(armed), col("vec_id") === col("c_id"))
        .crossJoin(broadcast(mm))
        .withColumn("dq", expr(
          "transform(emb, (x, i) -> mn[i] + cast(round((x - mn[i]) * 255.0D / (mx[i] - mn[i])) as int) * (mx[i] - mn[i]) / 255.0D)"))
        .withColumn("dqn", expr("sqrt(graft_dot(dq, dq))"))
        .join(broadcast(qs.select(col("q_id"), col("qe"), col("qn"))), Seq("q_id"))
        .withColumn("asim",
          round(expr("graft_dot(qe, dq)") / (col("qn") * col("dqn")), 6))
        .withColumn("r", row_number().over(w2))
        .filter(col("r") <= 15)
        .select(col("c1"), col("q_id"), col("c_id"))
      val w3 = Window.partitionBy(col("c1"), col("q_id"))
        .orderBy(col("sim").desc, col("c_id"))
      val casc = e.join(broadcast(st2), col("vec_id") === col("c_id"))
        .join(broadcast(qs.select(col("q_id"), col("qe"), col("qn"))), Seq("q_id"))
        .withColumn("sim",
          round(expr("graft_dot(qe, emb)") / (col("qn") * col("norm")), 6))
        .withColumn("rnk", row_number().over(w3))
        .filter(col("rnk") <= 5)
        .select(col("c1"), col("q_id"), col("c_id"))
      casc.join(exact, Seq("q_id", "c_id"), "left_semi")
        .groupBy(col("c1"))
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_exact"))))
        .withColumn("recall_at_5",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
        .select(col("c1"), col("n_hit"), col("n_exact"), col("recall_at_5"))
        .orderBy(col("c1"))
    }),
      // v32's replay with the Hamming stage ranked once to 300 and each
      // arm taken as a prefix (r <= c1); per-arm SQ8 + rerank + recall
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |bits AS (
        |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |codes AS (
        |  SELECT vec_id,
        |    SUM(CASE WHEN x > 0 AND i <= 32
        |        THEN (1::BIGINT << CAST(i - 1 AS INT)) ELSE 0 END)::BIGINT AS lo,
        |    SUM(CASE WHEN x > 0 AND i > 32
        |        THEN (1::BIGINT << CAST(i - 33 AS INT)) ELSE 0 END)::BIGINT AS hi
        |  FROM bits GROUP BY vec_id),
        |q AS (SELECT c.vec_id AS q_id, e.emb AS qe, e.norm AS qn,
        |        c.lo AS qlo, c.hi AS qhi
        |      FROM codes c JOIN e ON e.vec_id = c.vec_id
        |      WHERE c.vec_id % 100 = 0),
        |cand1 AS (
        |  SELECT q_id, c.vec_id AS c_id,
        |    (64 - (bit_count(xor(c.lo, qlo)) + bit_count(xor(c.hi, qhi))))
        |      / 64.0 AS hsim
        |  FROM codes c, q WHERE c.vec_id <> q_id),
        |rank1 AS (
        |  SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY hsim DESC, c_id) AS r FROM cand1),
        |arms AS (SELECT 30 AS c1 UNION ALL SELECT 100 UNION ALL SELECT 300),
        |st1 AS (
        |  SELECT a.c1, r.q_id, r.c_id
        |  FROM rank1 r CROSS JOIN arms a WHERE r.r <= a.c1),
        |d AS (SELECT unnest(embedding::DOUBLE[]) AS x,
        |        generate_subscripts(embedding, 1) AS sub FROM embeddings),
        |mmr AS (SELECT sub, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY sub),
        |mma AS (SELECT list(mn ORDER BY sub) AS mn, list(mx ORDER BY sub) AS mx
        |        FROM mmr),
        |cd AS (
        |  SELECT t.c1, t.q_id, t.c_id,
        |    list_transform(range(0, 64), i ->
        |      mn[CAST(i + 1 AS INT)] +
        |      CAST(round((c.emb[CAST(i + 1 AS INT)] - mn[CAST(i + 1 AS INT)]) * 255.0
        |             / (mx[CAST(i + 1 AS INT)] - mn[CAST(i + 1 AS INT)])) AS INT)
        |        * (mx[CAST(i + 1 AS INT)] - mn[CAST(i + 1 AS INT)]) / 255.0) AS dq
        |  FROM st1 t JOIN e c ON c.vec_id = t.c_id, mma),
        |sc2 AS (
        |  SELECT cd.c1, cd.q_id, cd.c_id,
        |    round(list_dot_product(qq.qe, dq)
        |      / (qq.qn * sqrt(list_dot_product(dq, dq))), 6) AS asim
        |  FROM cd JOIN q qq ON qq.q_id = cd.q_id),
        |st2 AS (
        |  SELECT c1, q_id, c_id FROM (
        |    SELECT c1, q_id, c_id, ROW_NUMBER() OVER (PARTITION BY c1, q_id
        |      ORDER BY asim DESC, c_id) AS r FROM sc2)
        |  WHERE r <= 15),
        |rr AS (
        |  SELECT t.c1, t.q_id, t.c_id,
        |    round(list_dot_product(qq.qe, c.emb) / (qq.qn * c.norm), 6) AS sim
        |  FROM st2 t JOIN q qq ON qq.q_id = t.q_id JOIN e c ON c.vec_id = t.c_id),
        |casc AS (
        |  SELECT c1, q_id, c_id FROM (
        |    SELECT c1, q_id, c_id, ROW_NUMBER() OVER (PARTITION BY c1, q_id
        |      ORDER BY sim DESC, c_id) AS rnk FROM rr)
        |  WHERE rnk <= 5),
        |px AS (
        |  SELECT q_id, vec_id AS c_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM e, q WHERE vec_id <> q_id),
        |ex AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, c_id) AS rnk FROM px)
        |  WHERE rnk <= 5),
        |hits AS (
        |  SELECT c1, COUNT(*) AS n_hit
        |  FROM casc SEMI JOIN ex USING (q_id, c_id) GROUP BY c1),
        |nx AS (SELECT COUNT(*) AS n_exact FROM ex)
        |SELECT c1, n_hit, n_exact,
        |  ROUND(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall_at_5
        |FROM hits, nx ORDER BY c1""".stripMargin),

    // GRAPH-BASED ANN BEAM SEARCH — the graph pillar (HNSW/NSG family,
    // single-layer form) completing the index taxonomy: LSH (v03), IVF
    // (v05/v27), PQ (v12/v13), binary (v17), cascade (v32), and now a
    // NEIGHBORHOOD GRAPH walked greedily. Build: top-4 out-neighbors per
    // vertex among IVF same-cell candidates (the bounded-candidate
    // discipline — never all-pairs). Search: from a fixed global entry
    // point, 3 unrolled beam-width-4 hops — frontier joins the graph,
    // new candidates are scored against the query, the visited set
    // accumulates, the next frontier is its top-4. Result: top-5 of the
    // visited set, with measured recall@5 against the exact ground
    // truth — accuracy is an OUTPUT, not an assumption. Scale: the walk
    // shuffles only (q_id, vec_id) frames bounded by beam×degree×hops
    // per query; scoring joins the corpus by id (hash join on the id
    // key); the graph build is v31's cell-bounded pair join.
    QuerySpec("v35_graph_beam_search", (s, dir) => {
      val e = emb(s, dir)
      val qs = e.filter(expr("vec_id % 100 = 50"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("norm").as("qn"))
      // three independent prep chains — the cells→graph build, the corpus
      // checkpoint, and the exact ground-truth arm — submitted from
      // concurrent driver threads (guide §2.6) instead of as sequential
      // barrier jobs
      val Seq(graph, corpus, exact) = inParallel(
        () => {
          val cells = coarseAssign(e, sqrtSeedCents(e)).localCheckpoint(true)
          val ga = cells.select(col("cell"), col("vec_id").as("src"),
            col("emb").as("es"), col("norm").as("ns"))
          val gb = cells.select(col("cell"), col("vec_id").as("dst"),
            col("emb").as("ed"), col("norm").as("nd"))
          val wK = Window.partitionBy(col("src"))
            .orderBy(col("esim").desc, col("dst"))
          val g = ga.join(gb, Seq("cell")).filter(col("src") =!= col("dst"))
            .withColumn("esim",
              round(expr("graft_dot(es, ed)") / (col("ns") * col("nd")), 6))
            .withColumn("rn", row_number().over(wK)).filter(col("rn") <= 4)
            .select(col("src"), col("dst"))
            .localCheckpoint(true)
          // the corpus-sized assignment blocks are dead once the edge
          // list materializes (r17 unpersist discipline)
          Barriers.release(cells)
          g
        },
        () => e.select(col("vec_id").as("cid"), col("emb").as("ce"),
          col("norm").as("cn")).localCheckpoint(true),
        () => cosineTopK(e, qs.select(col("q_id"), col("qe"), col("qn")), 5)
          .select(col("q_id"), col("c_id").as("cid"))
          .localCheckpoint(true))
      def score(df: DataFrame): DataFrame = df
        .join(corpus, Seq("cid"))
        .join(broadcast(qs), Seq("q_id"))
        .filter(col("cid") =!= col("q_id"))
        .withColumn("sim",
          round(expr("graft_dot(qe, ce)") / (col("qn") * col("cn")), 6))
        .select(col("q_id"), col("cid"), col("sim"))
      val entry = e.agg(min(col("vec_id")).as("cid"))
      val wB = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("cid"))
      // Each beam round references `visited` twice (the union and, through
      // `frontier`, the candidate expansion), so an unbarriered loop doubles
      // the visited subtree per round — the executed plan carried 239
      // Exchanges / 103 FileScans for 3 rounds (r16 plan audit). One eager
      // localCheckpoint per round (the CC/pqCodebook discipline) keeps the
      // plan constant-depth; the frame is q_ids × visited-candidates rows
      // (≤ q·(4·beam+1)), trivial to materialize.
      var visited = score(
        qs.select(col("q_id")).crossJoin(broadcast(entry)))
        .localCheckpoint(true)
      var frontier = visited
      for (_ <- 1 to 3) {
        val prev = visited
        val cand = frontier.select(col("q_id"), col("cid"))
          .join(graph, col("cid") === col("src"))
          .select(col("q_id"), col("dst").as("cid")).distinct()
        visited = visited.unionByName(score(cand)).distinct()
          .localCheckpoint(true)
        // round N−1's visited blocks are dead once round N materializes
        // (the eager checkpoint above read them for the last time)
        Barriers.release(prev)
        frontier = visited.withColumn("rn", row_number().over(wB))
          .filter(col("rn") <= 4).drop("rn")
      }
      val nv = visited.groupBy(col("q_id"))
        .agg(count(lit(1)).cast("long").as("n_visited"))
      val approx = visited
        .withColumn("rnk", row_number().over(wB)).filter(col("rnk") <= 5)
      val hits = approx.join(exact, Seq("q_id", "cid"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).cast("long").as("n_hit"))
      approx.filter(col("rnk") === 1)
        .select(col("q_id"), col("cid").as("top1_id"),
          col("sim").as("top1_sim"))
        .join(nv, Seq("q_id"))
        .join(hits, Seq("q_id"), "left")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .withColumn("recall_at_5",
          round(col("n_hit").cast("double") / 5.0, 6))
        .select(col("q_id"), col("top1_id"), col("top1_sim"),
          col("n_visited"), col("n_hit"), col("recall_at_5"))
        .orderBy(col("q_id"))
    },
      beamSql),

    // DELTA-INDEX MERGE — how production ANN serves a GROWING corpus
    // without rebuilding: the bulk sits in the IVF index (centroids
    // trained on it alone), fresh arrivals accumulate in a small
    // UNINDEXED delta that is brute-force scanned and unioned into every
    // query's candidate set — the FAISS/Lucene "main segment + in-memory
    // segment" pattern. Queries probe nprobe=2 cells of main + ALL of
    // delta; exact cosine on the union; measured recall@5 against the
    // full-corpus ground truth shows what the merge restores (an
    // index-only search is blind to the unindexed 5% by construction).
    // Scale: the delta is small BY DEFINITION (it is what compaction
    // hasn't folded in yet) and scans as a broadcast-queries map-side
    // pass; the main side is v27's O(q·√n) cell-bounded probe; the union
    // meets at a per-query top-5 window over ≤ (2·√n + |delta|) rows.
    // The registered query's cost tracks SERVING, not diagnostics
    // (r10 verdict item 5): the full-corpus recall@5 ground truth is
    // computed only for a scale-capped AUDIT SUBSAMPLE of the queries —
    // stride 100·max(1, n/500), i.e. every query at the sf0.01 oracle
    // gate (bit-identical results, oracle untouched) but a fixed ~5
    // queries at any stress rung, so the exact arm stays O(n) while the
    // served path keeps its 1.4× cell-bounded shape. Unaudited queries
    // emit NULL n_hit/recall (no such rows exist at gate scale).
    QuerySpec("v37_delta_index_merge", (s, dir) => {
      val e = emb(s, dir)
      val auditStride = 100L * math.max(1L, e.count() / 500L)
      val main = e.filter(col("vec_id") % 20 =!= 0)
      val delta = e.filter(col("vec_id") % 20 === 0)
      val cents = sqrtSeedCents(main).localCheckpoint(true)
      val cells = coarseAssign(main, cents)
      val wProbe = Window.partitionBy(col("vec_id"))
        .orderBy(col("csim").desc, col("clabel"))
      val probes = cellSims(e.filter(expr("vec_id % 100 = 50")), cents)
        .withColumn("crn", row_number().over(wProbe))
        .filter(col("crn") <= 2)
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("norm").as("qn"), col("clabel").as("cell"))
      val qs = e.filter(expr("vec_id % 100 = 50"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("norm").as("qn"))
      val mainCand = cells.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim",
          round(expr("graft_dot(qe, emb)") / (col("qn") * col("norm")), 6))
        .select(col("q_id"), col("vec_id").as("c_id"), col("sim"),
          lit("main").as("src"))
      val deltaCand = delta.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim",
          round(expr("graft_dot(qe, emb)") / (col("qn") * col("norm")), 6))
        .select(col("q_id"), col("vec_id").as("c_id"), col("sim"),
          lit("delta").as("src"))
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("c_id"))
      val top5 = mainCand.unionByName(deltaCand)
        .withColumn("rnk", row_number().over(wTop).cast("long"))
        .filter(col("rnk") <= 5)
        .localCheckpoint(true)
      val auditQs = qs.filter(col("q_id") % auditStride === 50L)
      val exact = cosineTopK(e, auditQs, 5).select(col("q_id"), col("c_id"))
      val hits = top5.join(exact, Seq("q_id", "c_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).cast("long").as("n_hit"))
      val nd = top5.groupBy(col("q_id"))
        .agg(sum(when(col("src") === "delta", 1L).otherwise(0L))
          .as("n_delta"))
      top5.filter(col("rnk") === 1)
        .select(col("q_id"), col("c_id").as("top1_id"),
          col("src").as("top1_src"), col("sim").as("top1_sim"))
        .join(nd, Seq("q_id"))
        .join(hits, Seq("q_id"), "left")
        .withColumn("audited", col("q_id") % auditStride === 50L)
        .withColumn("n_hit",
          when(col("audited"), coalesce(col("n_hit"), lit(0L))))
        .withColumn("recall_at_5",
          when(col("audited"), round(col("n_hit").cast("double") / 5.0, 6)))
        .drop("audited")
        .orderBy(col("q_id"))
    },
      // main/delta replay: sqrt-cents from MAIN only, nprobe-2 probes,
      // delta brute union, shared top-5 ladder, full-corpus ground truth
      s"""WITH $embSql,
        |m AS (SELECT * FROM e WHERE vec_id % 20 <> 0),
        |d AS (SELECT * FROM e WHERE vec_id % 20 = 0),
        |nn AS (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS kk FROM m),
        |cents AS (SELECT vec_id AS clabel, emb AS cvec, norm AS cnorm
        |          FROM m, nn WHERE vec_id < kk),
        |cells AS (SELECT vec_id, emb, norm, clabel AS cell FROM (
        |  SELECT m.vec_id, m.emb, m.norm, c.clabel,
        |    ROW_NUMBER() OVER (PARTITION BY m.vec_id ORDER BY
        |      round(list_dot_product(m.emb, c.cvec)
        |        / (m.norm * c.cnorm), 6) DESC, c.clabel) AS rn
        |  FROM m, cents c) WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM e
        |      WHERE vec_id % 100 = 50),
        |pr AS (SELECT q_id, qe, qn, cell FROM (
        |  SELECT q.q_id, q.qe, q.qn, c.clabel AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
        |      round(list_dot_product(q.qe, c.cvec)
        |        / (q.qn * c.cnorm), 6) DESC, c.clabel) AS crn
        |  FROM q, cents c) WHERE crn <= 2),
        |mc AS (
        |  SELECT p.q_id, cl.vec_id AS c_id,
        |    round(list_dot_product(p.qe, cl.emb)
        |      / (p.qn * cl.norm), 6) AS sim,
        |    'main' AS src
        |  FROM pr p JOIN cells cl ON cl.cell = p.cell
        |  WHERE cl.vec_id <> p.q_id),
        |dc AS (
        |  SELECT q.q_id, d.vec_id AS c_id,
        |    round(list_dot_product(q.qe, d.emb) / (q.qn * d.norm), 6)
        |      AS sim,
        |    'delta' AS src
        |  FROM q, d WHERE d.vec_id <> q.q_id),
        |u AS (SELECT * FROM mc UNION ALL SELECT * FROM dc),
        |t5 AS (SELECT q_id, c_id, sim, src, rnk FROM (
        |  SELECT q_id, c_id, sim, src, ROW_NUMBER() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, c_id) AS rnk FROM u)
        |  WHERE rnk <= 5),
        |px AS (SELECT q.q_id, c.vec_id AS c_id,
        |    round(list_dot_product(q.qe, c.emb) / (q.qn * c.norm), 6)
        |      AS sim
        |  FROM e c, q WHERE c.vec_id <> q.q_id),
        |ex AS (SELECT q_id, c_id FROM (
        |  SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS rnk FROM px) WHERE rnk <= 5),
        |ht AS (SELECT a.q_id, COUNT(*) AS n_hit FROM t5 a
        |  SEMI JOIN ex ON ex.q_id = a.q_id AND ex.c_id = a.c_id
        |  GROUP BY a.q_id),
        |ndl AS (SELECT q_id,
        |    CAST(SUM(CASE WHEN src = 'delta' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_delta
        |  FROM t5 GROUP BY q_id)
        |SELECT a.q_id, a.c_id AS top1_id, a.src AS top1_src,
        |  a.sim AS top1_sim, ndl.n_delta,
        |  CAST(COALESCE(ht.n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(CAST(COALESCE(ht.n_hit, 0) AS DOUBLE) / 5.0, 6)
        |    AS recall_at_5
        |FROM t5 a JOIN ndl ON ndl.q_id = a.q_id
        |LEFT JOIN ht ON ht.q_id = a.q_id
        |WHERE a.rnk = 1 ORDER BY a.q_id""".stripMargin),

    // JOHNSON-LINDENSTRAUSS RANDOM PROJECTION with a measured distortion
    // certificate: project the 64-dim corpus to k=16 dims through a
    // deterministic ±1 sign matrix (hash of (i,j) — the Achlioptas
    // database-friendly construction), then AUDIT the embedding the way
    // JL promises to behave: for sampled pairs, the ratio of
    // squared distances ‖pa−pb‖²/(k·‖a−b‖²) — a ±1-entry column has unit
    // variance, so ‖p‖²/k estimates ‖x‖² directly — which concentrates
    // around 1 with sd ≈ √(2/k). The whole query is INTEGER: inputs
    // snap to the 6-dp micro-lattice via decimal cast (floats sit far
    // from half-way points, so the cast is cross-engine exact),
    // projections are ±-sums of micro-ints, distances are exact integer
    // sums of squares; the ONLY float ops are the final fixed
    // tree (p2/16)/d2. Scale: the projection is a
    // ×k map-side fan-out + one (vec_id, j) aggregate — the 100 TB way
    // to cut ANN storage 4× before any index is built; the audit joins
    // only the sampled pair frame.
    QuerySpec("v36_random_projection", (s, dir) => {
      val e = emb(s, dir)
      val base = e
        .select(col("vec_id"), posexplode(col("emb")).as(Seq("i", "x")))
        .withColumn("xm",
          expr("cast(cast(x as decimal(18,6)) * 1000000 as bigint)"))
      val js = s.range(0, 16).toDF("j")
      // sign from an md5 hex digit, not a linear-congruential form: an
      // affine pattern makes the k sign columns SHIFTS of one sequence
      // (pairwise correlated projections — observed distortion 28 on this
      // corpus); the hash decorrelates them. 64×16 md5s per vector is
      // one-time index-build cost, map-side.
      val proj = base
        .join(broadcast(js))
        .withColumn("sgn",
          when(expr("cast(conv(substr(md5(cast(concat(cast(i as string), " +
            "'_', cast(j as string)) as binary)), 1, 1), 16, 10) as bigint)")
            % 2 === 0, lit(1L)).otherwise(lit(-1L)))
        .groupBy(col("vec_id"), col("j"))
        .agg(sum(col("sgn") * col("xm")).as("pm"))
      def pairs(df: DataFrame, v: String) = (
        df.filter(col("vec_id") % 50 === 0)
          .withColumnRenamed(v, s"${v}_a"),
        df.filter((col("vec_id") - 1) % 50 === 0)
          .withColumn("vec_id", col("vec_id") - 1)
          .withColumnRenamed(v, s"${v}_b"))
      val (pa, pb) = pairs(proj, "pm")
      val d2p = pa.join(pb, Seq("vec_id", "j"))
        .groupBy(col("vec_id"))
        .agg(sum((col("pm_a") - col("pm_b")) * (col("pm_a") - col("pm_b")))
          .as("d2_proj_m2"))
      val (ba, bb) = pairs(base.select(col("vec_id"), col("i"), col("xm")), "xm")
      val d2o = ba.join(bb, Seq("vec_id", "i"))
        .groupBy(col("vec_id"))
        .agg(sum((col("xm_a") - col("xm_b")) * (col("xm_a") - col("xm_b")))
          .as("d2_orig_m2"))
      d2o.join(d2p, Seq("vec_id"))
        .filter(col("d2_orig_m2") > 0L)
        .select(col("vec_id").as("pair_id"), col("d2_orig_m2"),
          col("d2_proj_m2"),
          ((col("d2_proj_m2").cast("double") / lit(16.0))
            / col("d2_orig_m2").cast("double")).as("distortion"))
        .orderBy(col("pair_id"))
    },
      // same ±1 sign hash, same micro-int lattice; every integer SUM pinned
      // to BIGINT (DuckDB would widen to HUGEINT)
      s"""WITH $embSql,
        |base AS (
        |  SELECT vec_id, i,
        |    CAST(CAST(emb[i + 1] AS DECIMAL(18,6)) * 1000000 AS BIGINT)
        |      AS xm
        |  FROM e, range(0, 64) t(i)),
        |proj AS (
        |  SELECT vec_id, j,
        |    CAST(SUM(CASE WHEN (strpos('0123456789abcdef',
        |        substr(md5(i::VARCHAR || '_' || j::VARCHAR), 1, 1)) - 1)
        |        % 2 = 0
        |      THEN xm ELSE -xm END) AS BIGINT) AS pm
        |  FROM base, range(0, 16) u(j) GROUP BY vec_id, j),
        |d2p AS (
        |  SELECT a.vec_id,
        |    CAST(SUM((a.pm - b.pm) * (a.pm - b.pm)) AS BIGINT) AS d2_proj_m2
        |  FROM proj a JOIN proj b
        |    ON b.vec_id = a.vec_id + 1 AND b.j = a.j
        |  WHERE a.vec_id % 50 = 0 GROUP BY a.vec_id),
        |d2o AS (
        |  SELECT a.vec_id,
        |    CAST(SUM((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d2_orig_m2
        |  FROM base a JOIN base b
        |    ON b.vec_id = a.vec_id + 1 AND b.i = a.i
        |  WHERE a.vec_id % 50 = 0 GROUP BY a.vec_id)
        |SELECT o.vec_id AS pair_id, o.d2_orig_m2, p.d2_proj_m2,
        |  CAST(p.d2_proj_m2 AS DOUBLE) / 16.0 / CAST(o.d2_orig_m2 AS DOUBLE)
        |    AS distortion
        |FROM d2o o JOIN d2p p ON p.vec_id = o.vec_id
        |WHERE o.d2_orig_m2 > 0 ORDER BY pair_id""".stripMargin),

    // MAXIMUM-INNER-PRODUCT search with norm-band pruning (the LEMP /
    // FEXIPRO family, simplified): MIPS ranks by RAW dot product, where
    // cosine's normalization is wrong (recommender scores, unnormalized
    // OPT embeddings). The exact acceleration: partition the corpus into
    // 16 norm bands; Cauchy–Schwarz gives every candidate in band b the
    // certificate ip ≤ ‖q‖·max‖v‖_b, so a search that visits bands in
    // decreasing bound order may STOP once the bound falls below the
    // running kth score. Declaratively, this query emits the AUDIT of
    // that search: the minimal safe scan set (bands whose bound ≥ the
    // true kth score), its size, and n_missed — candidates outside the
    // scan set that strictly beat the kth score, provably 0, computed
    // not assumed (both engines count it). Scale: queries broadcast,
    // the corpus streams map-side through both passes (top-k partials +
    // a 16-cell-per-query band rollup); no candidate-grain shuffle.
    QuerySpec("v34_mips_norm_bands", (s, dir) => {
      val e = emb(s, dir)
        .crossJoin(broadcast(emb(s, dir).agg(max(col("norm")).as("maxn"))))
        .withColumn("band", least(floor(col("norm")
          / (col("maxn") / lit(16.0))), lit(15.0)).cast("long"))
        .localCheckpoint(true)
      val qs = e.filter(expr("vec_id % 100 = 50"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("norm").as("qn"))
        .localCheckpoint(true)
      val topk = udaf(new graft.functions.TopKAggregator(5))
      val best = fanout(e)
        .crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("ipr", round(expr("graft_dot(qe, emb)"), 6))
        .groupBy(col("q_id"))
        .agg(topk(col("vec_id"), col("ipr")).as("top"))
        .select(col("q_id"),
          expr("element_at(top, 1).c_id").as("top1_id"),
          expr("element_at(top, 1).sim").as("top1_ip"),
          expr("element_at(top, 5).sim").as("kth_ip"))
      val perBand = fanout(e)
        .crossJoin(broadcast(qs.select(col("q_id"), col("qe"))))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("ipr", round(expr("graft_dot(qe, emb)"), 6))
        .groupBy(col("q_id"), col("band"))
        .agg(max(col("ipr")).as("max_ipr"), count(lit(1)).as("n_b"),
          max(col("norm")).as("maxn_b"))
      perBand
        .join(broadcast(qs.select(col("q_id"), col("qn"))), Seq("q_id"))
        .join(broadcast(best), Seq("q_id"))
        .withColumn("ub", round(col("qn") * col("maxn_b"), 6))
        .withColumn("scanned", col("ub") >= col("kth_ip"))
        .groupBy(col("q_id"), col("kth_ip"), col("top1_id"), col("top1_ip"))
        .agg(
          sum(when(col("scanned"), lit(1L)).otherwise(lit(0L)))
            .cast("long").as("bands_scanned"),
          sum(when(col("scanned"), col("n_b")).otherwise(lit(0L)))
            .cast("long").as("n_scanned"),
          sum(col("n_b")).cast("long").as("n_corpus"),
          sum(when(!col("scanned") && col("max_ipr") > col("kth_ip"),
            lit(1L)).otherwise(lit(0L))).cast("long").as("n_missed"))
        .withColumn("frac_scanned",
          round(col("n_scanned").cast("double") / col("n_corpus"), 6))
        .select(col("q_id"), col("top1_id"), col("top1_ip"), col("kth_ip"),
          col("bands_scanned"), col("n_scanned"), col("n_corpus"),
          col("frac_scanned"), col("n_missed"))
        .orderBy(col("q_id"))
    },
      s"""WITH $embSql,
        |mx AS (SELECT MAX(norm) AS maxn FROM e),
        |eb AS (
        |  SELECT vec_id, emb, norm,
        |    CAST(least(floor(norm / (maxn / 16.0)), 15.0) AS BIGINT) AS band
        |  FROM e, mx),
        |q AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM eb
        |      WHERE vec_id % 100 = 50),
        |p AS (
        |  SELECT q_id, vec_id, band, norm,
        |    ROUND(list_dot_product(qe, emb), 6) AS ipr
        |  FROM eb, q WHERE vec_id <> q_id),
        |r AS (
        |  SELECT q_id, vec_id, ipr,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ipr DESC, vec_id)
        |      AS rnk
        |  FROM p),
        |best AS (
        |  SELECT q_id,
        |    MAX(CASE WHEN rnk = 1 THEN vec_id END) AS top1_id,
        |    MAX(CASE WHEN rnk = 1 THEN ipr END) AS top1_ip,
        |    MAX(CASE WHEN rnk = 5 THEN ipr END) AS kth_ip
        |  FROM r WHERE rnk <= 5 GROUP BY q_id),
        |pb AS (
        |  SELECT q_id, band, MAX(ipr) AS max_ipr, COUNT(*) AS n_b,
        |    MAX(norm) AS maxn_b
        |  FROM p GROUP BY 1, 2),
        |j AS (
        |  SELECT pb.q_id, pb.band, pb.max_ipr, pb.n_b,
        |    b.top1_id, b.top1_ip, b.kth_ip,
        |    ROUND(q.qn * pb.maxn_b, 6) AS ub
        |  FROM pb JOIN q ON q.q_id = pb.q_id
        |  JOIN best b ON b.q_id = pb.q_id)
        |SELECT q_id, top1_id, top1_ip, kth_ip,
        |  CAST(SUM(CASE WHEN ub >= kth_ip THEN 1 ELSE 0 END) AS BIGINT)
        |    AS bands_scanned,
        |  CAST(SUM(CASE WHEN ub >= kth_ip THEN n_b ELSE 0 END) AS BIGINT)
        |    AS n_scanned,
        |  CAST(SUM(n_b) AS BIGINT) AS n_corpus,
        |  ROUND(CAST(SUM(CASE WHEN ub >= kth_ip THEN n_b ELSE 0 END)
        |        AS DOUBLE)
        |      / CAST(SUM(n_b) AS DOUBLE), 6) AS frac_scanned,
        |  CAST(SUM(CASE WHEN ub < kth_ip AND max_ipr > kth_ip
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_missed
        |FROM j GROUP BY 1, 2, 3, 4 ORDER BY q_id""".stripMargin),

    // EMBEDDING DRIFT MONITOR (the model-rollout health check an embedding
    // pipeline runs before mixing vectors from two encoder versions into
    // one index): per label, the centroid of the even-id half vs the
    // odd-id half — cosine between the two centroids, the L2 shift, and
    // the worst single-dimension displacement. Centroid coordinates are
    // 6-dp-rounded (v02's construction) then snapped to the v36 integer
    // micro-lattice, so the cross-half dot products and the L2 sum are
    // EXACT 64-bit integer arithmetic — cosine/shift are each one fixed
    // IEEE tree over those integers (n0sq·n1sq would overflow 2⁶³, so the
    // denominator is sqrt(n0sq)·sqrt(n1sq), spelled identically in the
    // oracle). Plan: one embeddings scan → (label, half, dim) partial-agg
    // (the only data-sized shuffle); everything after runs on the
    // |labels|×2×64-row centroid frame.
    QuerySpec("v38_embedding_drift", (s, dir) => {
      val cent = emb(s, dir)
        .withColumn("half", (col("vec_id") % 2).cast("int"))
        .select(col("label"), col("half"),
          posexplode(col("emb")).as(Seq("pos", "val")))
        .groupBy(col("label"), col("half"), col("pos"))
        .agg(count(lit(1)).as("nv"), round(avg(col("val")), 6).as("c6"))
        .withColumn("cm",
          expr("cast(round(c6 * 1000000, 0) as bigint)"))
      val c0 = cent.filter(col("half") === 0)
        .select(col("label"), col("pos"), col("cm").as("cm0"),
          col("nv").as("nv0"))
      val c1 = cent.filter(col("half") === 1)
        .select(col("label"), col("pos"), col("cm").as("cm1"),
          col("nv").as("nv1"))
      c0.join(c1, Seq("label", "pos"))
        .groupBy(col("label"))
        .agg(max(col("nv0")).as("n0"), max(col("nv1")).as("n1"),
          sum(col("cm0") * col("cm1")).as("dot"),
          sum(col("cm0") * col("cm0")).as("n0sq"),
          sum(col("cm1") * col("cm1")).as("n1sq"),
          sum((col("cm0") - col("cm1")) * (col("cm0") - col("cm1")))
            .as("l2"),
          max(abs(col("cm0") - col("cm1"))).as("max_dim_shift_micro"))
        .select(col("label"), col("n0"), col("n1"),
          round(expr("cast(dot as double) / (sqrt(cast(n0sq as double))" +
            " * sqrt(cast(n1sq as double)))"), 6).as("cos_drift"),
          round(expr("sqrt(cast(l2 as double)) / 1e6"), 6).as("l2_shift"),
          col("max_dim_shift_micro"))
        .orderBy(col("label"))
    },
      // v02's rounded-centroid construction snapped to the integer micro
      // lattice; exact integer dot/L2 sums; identical one-tree cos/shift
      """WITH cent AS (
        |  SELECT label, CAST(vec_id % 2 AS INT) AS half, sub - 1 AS pos,
        |    COUNT(*) AS nv, ROUND(AVG(val), 6) AS c6
        |  FROM (SELECT label, vec_id, unnest(embedding::DOUBLE[]) AS val,
        |          generate_subscripts(embedding, 1) AS sub
        |        FROM embeddings)
        |  GROUP BY 1, 2, 3),
        |cm AS (SELECT label, half, pos, nv,
        |         CAST(ROUND(c6 * 1000000, 0) AS BIGINT) AS cm
        |       FROM cent),
        |j AS (
        |  SELECT a.label, a.pos, a.cm AS cm0, b.cm AS cm1,
        |    a.nv AS nv0, b.nv AS nv1
        |  FROM cm a JOIN cm b ON a.label = b.label AND a.pos = b.pos
        |    AND a.half = 0 AND b.half = 1),
        |agg AS (
        |  SELECT label, MAX(nv0) AS n0, MAX(nv1) AS n1,
        |    CAST(SUM(cm0 * cm1) AS BIGINT) AS dot,
        |    CAST(SUM(cm0 * cm0) AS BIGINT) AS n0sq,
        |    CAST(SUM(cm1 * cm1) AS BIGINT) AS n1sq,
        |    CAST(SUM((cm0 - cm1) * (cm0 - cm1)) AS BIGINT) AS l2,
        |    MAX(abs(cm0 - cm1)) AS max_dim_shift_micro
        |  FROM j GROUP BY label)
        |SELECT label, n0, n1,
        |  ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(n0sq AS DOUBLE))
        |    * sqrt(CAST(n1sq AS DOUBLE))), 6) AS cos_drift,
        |  ROUND(sqrt(CAST(l2 AS DOUBLE)) / 1e6, 6) AS l2_shift,
        |  max_dim_shift_micro
        |FROM agg ORDER BY label""".stripMargin),

    // IVF CELL-BALANCE AUDIT (the index-health dial behind v05/v27's
    // probe-latency guarantees): at 100 TB a skewed inverted file makes
    // nprobe meaningless — one hot cell IS the corpus. This measures the
    // v16/v27 adaptive index (k = ⌈n/64⌉) directly: min/max cell size,
    // the imbalance factor max/⟨cell⟩ = max·k/n, and what fraction of
    // the corpus the top decile of cells holds. Ranking runs on the CELL
    // DIRECTORY (n/64 rows — index metadata, 64× compressed), not the
    // corpus; its one unpartitioned window is a directory sort, the same
    // class as ts31's bucket ranking. All counts integer; the two
    // fractions are one-tree doubles.
    QuerySpec("v39_ivf_balance", (s, dir) => {
      val e = emb(s, dir)
      // cells feeds three consumers (stats, ranking, coverage) — one
      // eager checkpoint, v16's discipline
      val cells = kmeansAssign(e, kmeansCentroidsAdaptive(e, iters = 2))
        .groupBy(col("cid")).agg(count(lit(1)).as("sz"))
        .localCheckpoint(true)
      val stats = cells.agg(
        count(lit(1)).as("n_cells"),
        sum(col("sz")).cast("long").as("n"),
        min(col("sz")).as("min_cell"),
        max(col("sz")).as("max_cell"))
      val ranked = cells.withColumn("rk",
        row_number().over(Window.orderBy(col("sz").desc, col("cid")))
          .cast("long"))
      val top = ranked.crossJoin(broadcast(stats))
        .filter(col("rk") <=
          expr("cast(ceil(cast(n_cells as double) / 10.0) as bigint)"))
        .agg(sum(col("sz")).cast("long").as("top_sz"),
          count(lit(1)).as("top_decile_cells"))
      stats.crossJoin(broadcast(top))
        .select(col("n"), col("n_cells"), col("min_cell"), col("max_cell"),
          col("top_decile_cells"),
          round(expr("cast(max_cell as double) * cast(n_cells as double)" +
            " / cast(n as double)"), 6).as("imbalance"),
          round(expr("cast(top_sz as double) / cast(n as double)"), 6)
            .as("top_decile_frac"))
    },
      // the v16 adaptive-k assignment replay, then pure directory
      // arithmetic — identical rank rule (sz DESC, cid) and one-tree
      // fractions
      s"""WITH $kmeansSqlAdaptive,
         |cells AS (SELECT cid, COUNT(*) AS sz FROM af GROUP BY cid),
         |st AS (
         |  SELECT COUNT(*) AS n_cells, CAST(SUM(sz) AS BIGINT) AS n,
         |    MIN(sz) AS min_cell, MAX(sz) AS max_cell
         |  FROM cells),
         |rk AS (
         |  SELECT sz, ROW_NUMBER() OVER (ORDER BY sz DESC, cid) AS rk
         |  FROM cells),
         |top AS (
         |  SELECT CAST(SUM(sz) AS BIGINT) AS top_sz,
         |    COUNT(*) AS top_decile_cells
         |  FROM rk, st
         |  WHERE rk <= CAST(ceil(CAST(n_cells AS DOUBLE) / 10.0)
         |    AS BIGINT))
         |SELECT st.n, st.n_cells, st.min_cell, st.max_cell,
         |  top.top_decile_cells,
         |  ROUND(CAST(st.max_cell AS DOUBLE) * CAST(st.n_cells AS DOUBLE)
         |    / CAST(st.n AS DOUBLE), 6) AS imbalance,
         |  ROUND(CAST(top.top_sz AS DOUBLE) / CAST(st.n AS DOUBLE), 6)
         |    AS top_decile_frac
         |FROM st, top""".stripMargin),

    // SQ8 QUANTIZATION-DISTORTION AUDIT (the error dial behind v11's
    // 4× storage cut, per label — which classes can afford the lossy
    // index?): reconstruction error ‖x − dequant(quant(x))‖² per vector
    // through v11's EXACT quantize/dequantize expressions, then
    // per-label mean/max. Per-vector error is a single sequential fold
    // (zip_with + aggregate ≡ DuckDB's list ops in list order),
    // 12-dp-rounded into exact decimals so the label mean is
    // order-independent; mean/max are one-tree finals. One corpus scan
    // + a one-row broadcast of the min/max arrays — fully linear.
    QuerySpec("v40_sq8_distortion", (s, dir) => {
      val e = emb(s, dir)
      val mm = e.select(posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("mns"),
          array_sort(collect_list(struct(col("pos"), col("mx")))).as("mxs"))
        .select(expr("transform(mns, s -> s.mn)").as("mn"),
          expr("transform(mxs, s -> s.mx)").as("mx"))
      // mx[i] = mn[i] (a corpus-wide constant dimension) would divide by
      // zero — a job failure under ANSI mode that the DuckDB oracle does
      // not share (the v11 pattern). A constant dimension quantizes
      // losslessly, so its reconstruction IS x (error contribution 0);
      // the oracle carries the same branch.
      e.crossJoin(broadcast(mm))
        .withColumn("dq", expr(
          "transform(emb, (x, i) -> CASE WHEN mx[i] = mn[i] THEN x" +
            " ELSE mn[i] +" +
            " cast(round((x - mn[i]) * 255.0D / (mx[i] - mn[i])) as int)" +
            " * (mx[i] - mn[i]) / 255.0D END)"))
        .withColumn("err", expr(
          "cast(round(aggregate(zip_with(emb, dq, (x, y) ->" +
            " (x - y) * (x - y)), 0D, (acc, z) -> acc + z), 12)" +
            " as decimal(28,12))"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("err")).as("se"),
          max(col("err")).as("me"))
        .select(col("label"), col("n"),
          round(expr("cast(se as double) / cast(n as double)"), 6)
            .as("mean_sq_err"),
          round(col("me").cast("double"), 6).as("max_sq_err"))
        .orderBy(col("label"))
    },
      // v11's exact dequantize replay → per-vector squared error as the
      // same in-list sequential fold, 12-dp decimal terms, one-tree finals
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb
        |  FROM embeddings),
        |d AS (SELECT unnest(embedding::DOUBLE[]) AS x,
        |        generate_subscripts(embedding, 1) AS sub FROM embeddings),
        |mmr AS (SELECT sub, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY sub),
        |mma AS (SELECT list(mn ORDER BY sub) AS mn,
        |          list(mx ORDER BY sub) AS mx FROM mmr),
        |err AS (
        |  SELECT label,
        |    CAST(ROUND(list_sum(list_transform(range(0, 64), i ->
        |      CASE WHEN mx[CAST(i + 1 AS INT)] = mn[CAST(i + 1 AS INT)]
        |      THEN 0.0 ELSE
        |      (emb[CAST(i + 1 AS INT)] - (mn[CAST(i + 1 AS INT)] +
        |        CAST(round((emb[CAST(i + 1 AS INT)] - mn[CAST(i + 1 AS INT)])
        |               * 255.0 / (mx[CAST(i + 1 AS INT)]
        |                 - mn[CAST(i + 1 AS INT)])) AS INT)
        |          * (mx[CAST(i + 1 AS INT)] - mn[CAST(i + 1 AS INT)])
        |          / 255.0))
        |      * (emb[CAST(i + 1 AS INT)] - (mn[CAST(i + 1 AS INT)] +
        |        CAST(round((emb[CAST(i + 1 AS INT)] - mn[CAST(i + 1 AS INT)])
        |               * 255.0 / (mx[CAST(i + 1 AS INT)]
        |                 - mn[CAST(i + 1 AS INT)])) AS INT)
        |          * (mx[CAST(i + 1 AS INT)] - mn[CAST(i + 1 AS INT)])
        |          / 255.0)) END)), 12) AS DECIMAL(28,12)) AS err
        |  FROM e, mma)
        |SELECT label, COUNT(*) AS n,
        |  ROUND(CAST(SUM(err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS mean_sq_err,
        |  ROUND(CAST(MAX(err) AS DOUBLE), 6) AS max_sq_err
        |FROM err GROUP BY label ORDER BY label""".stripMargin),

    // RETRIEVAL-QUALITY EVAL (nDCG@5 + MRR — the ranking-aware metrics
    // recall can't see: an index that returns all 5 true neighbors in
    // reverse order has recall 1.0 and poor nDCG): v05's 2-probe IVF
    // ranking judged against v01's exact top-5 ground truth. ALL-INTEGER
    // by construction: the DCG discount weights are FIXED micro-unit
    // literals ⌊10⁶/log₂(r+1)⌋ (no libm at runtime), rel ∈ {0,1}, so
    // DCG sums, the ideal (2948457 = Σ weights), nDCG in ppm and MRR in
    // micro are exact 64-bit arithmetic — hash-portable with no float
    // anywhere. The exact arm is the same bounded ground-truth
    // diagnostic as v04/v06 (|queries| × corpus, queries a broadcast).
    QuerySpec("v41_retrieval_quality", (s, dir) => {
      val e = emb(s, dir)
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("norm").as("qn"))
      val exact = cosineTopK(e, qs, 5)
        .select(col("q_id"), col("c_id")).withColumn("hit", lit(1L))
      ivfTopK(e).select(col("q_id"), col("rnk"), col("c_id"))
        .join(exact, Seq("q_id", "c_id"), "left")
        .withColumn("rel", coalesce(col("hit"), lit(0L)))
        .withColumn("w", expr("case rnk when 1 then 1000000L" +
          " when 2 then 630929L when 3 then 500000L" +
          " when 4 then 430676L else 386852L end"))
        .groupBy(col("q_id"))
        .agg(sum(col("rel")).as("n_hits"),
          min(when(col("rel") === 1L, col("rnk"))).as("fr"),
          sum(col("rel") * col("w")).as("dcg_micro"))
        .withColumn("first_hit_rank", coalesce(col("fr"), lit(0L)))
        .select(col("q_id"), col("n_hits"), col("first_hit_rank"),
          expr("case when first_hit_rank > 0" +
            " then 1000000 div first_hit_rank else 0L end")
            .as("mrr_micro"),
          col("dcg_micro"),
          expr("(dcg_micro * 1000000) div 2948457").as("ndcg_ppm"))
        .orderBy(col("q_id"))
    },
      // v05's IVF replay judged against v01's exact top-5; the same fixed
      // micro-unit DCG weights — integer end to end
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings),
        |cd AS (
        |  SELECT label, sub AS pos, ROUND(AVG(val), 6) AS cv
        |  FROM (SELECT label, unnest(embedding::DOUBLE[]) AS val,
        |          generate_subscripts(embedding, 1) AS sub FROM embeddings)
        |  GROUP BY label, sub),
        |cent AS (
        |  SELECT label AS clabel, cvec,
        |    sqrt(list_dot_product(cvec, cvec)) AS cnorm
        |  FROM (SELECT label, list(cv ORDER BY pos) AS cvec FROM cd
        |        GROUP BY label)),
        |sims AS (
        |  SELECT vec_id, emb, norm, clabel,
        |    ROUND(list_dot_product(emb, cvec) / (norm * cnorm), 6) AS csim
        |  FROM e, cent),
        |assign AS (
        |  SELECT vec_id, emb, norm, clabel AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, clabel) AS crn FROM sims)
        |  WHERE crn = 1),
        |probes AS (
        |  SELECT vec_id AS q_id, emb AS qe, norm AS qn, clabel AS cell
        |  FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, clabel) AS crn FROM sims
        |    WHERE vec_id % 100 = 0)
        |  WHERE crn <= 2),
        |cand AS (
        |  SELECT q_id, vec_id AS c_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM assign JOIN probes USING (cell) WHERE vec_id <> q_id),
        |ivf AS (
        |  SELECT q_id, c_id, rnk FROM (
        |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, c_id) AS rnk FROM cand)
        |  WHERE rnk <= 5),
        |q2 AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM e
        |       WHERE vec_id % 100 = 0),
        |exc AS (
        |  SELECT q_id, vec_id AS c_id, ROW_NUMBER() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, vec_id) AS xr
        |  FROM (SELECT q_id, vec_id,
        |          ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |        FROM e, q2 WHERE vec_id <> q_id)),
        |ex AS (SELECT q_id, c_id FROM exc WHERE xr <= 5),
        |sc AS (
        |  SELECT i.q_id, i.rnk,
        |    CASE WHEN ex.c_id IS NOT NULL THEN 1 ELSE 0 END AS rel,
        |    CASE i.rnk WHEN 1 THEN 1000000 WHEN 2 THEN 630929
        |      WHEN 3 THEN 500000 WHEN 4 THEN 430676 ELSE 386852 END AS w
        |  FROM ivf i LEFT JOIN ex ON ex.q_id = i.q_id
        |    AND ex.c_id = i.c_id),
        |ag AS (
        |  SELECT q_id, CAST(SUM(rel) AS BIGINT) AS n_hits,
        |    MIN(CASE WHEN rel = 1 THEN rnk END) AS fr,
        |    CAST(SUM(rel * w) AS BIGINT) AS dcg_micro
        |  FROM sc GROUP BY q_id)
        |SELECT q_id, n_hits,
        |  CAST(COALESCE(fr, 0) AS BIGINT) AS first_hit_rank,
        |  CAST(CASE WHEN COALESCE(fr, 0) > 0 THEN 1000000 // fr
        |    ELSE 0 END AS BIGINT) AS mrr_micro,
        |  dcg_micro,
        |  CAST((dcg_micro * 1000000) // 2948457 AS BIGINT) AS ndcg_ppm
        |FROM ag ORDER BY q_id""".stripMargin),

    // TOMBSTONE-MASKED ANN (v37's sibling: deletes instead of inserts —
    // how production serves DELETES without reindexing: the IVF index is
    // STALE, deleted ids are masked from every candidate set at serve
    // time, and compaction folds them out later): 10% of the corpus
    // (vec_id % 10 = 3) is tombstoned; queries probe nprobe=2 cells of
    // the stale index, the mask is an integer predicate on the candidate
    // frame (never a join — the tombstone set is a FORMULA here; a real
    // system broadcasts a bitmap), and recall@5 is audited against exact
    // top-5 over the LIVE corpus on the v37 scale-capped query subsample
    // (every query at gate scale — oracle exact; ~5 queries at any
    // rung). n_masked per query makes the staleness visible: it counts
    // candidates the index served that no longer exist.
    QuerySpec("v42_tombstone_ann", (s, dir) => {
      val e = emb(s, dir)
      val auditStride = 100L * math.max(1L, e.count() / 500L)
      val cents = sqrtSeedCents(e).localCheckpoint(true)
      val cells = coarseAssign(e, cents)
      val probes = cellProbes(e, cents, 2)
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("c_id"))
      val cand = cells.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim",
          round(expr("graft_dot(qe, emb)") / (col("qn") * col("norm")), 6))
        .select(col("q_id"), col("vec_id").as("c_id"), col("sim"))
        // ~q·nprobe·√n three-column rows, two consumers (tombstone count +
        // live top-5) — barrier so the corpus assign+probe join runs once
        .localCheckpoint(true)
      val masked = cand.groupBy(col("q_id"))
        .agg(sum(when(col("c_id") % 10 === 3, 1L).otherwise(0L))
          .as("n_masked"))
      val top5 = cand.filter(col("c_id") % 10 =!= 3)
        .withColumn("rnk", row_number().over(wTop).cast("long"))
        .filter(col("rnk") <= 5)
        .localCheckpoint(true)
      val auditQs = e.filter(expr("vec_id % 100 = 0"))
        .filter(col("vec_id") % auditStride === 0)
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("norm").as("qn"))
      val exact = cosineTopK(e.filter(col("vec_id") % 10 =!= 3), auditQs, 5)
        .select(col("q_id"), col("c_id"))
      val hits = top5.join(exact, Seq("q_id", "c_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).cast("long").as("n_hit"))
      top5.filter(col("rnk") === 1)
        .select(col("q_id"), col("c_id").as("top1_id"),
          col("sim").as("top1_sim"))
        .join(masked, Seq("q_id"))
        .join(hits, Seq("q_id"), "left")
        .withColumn("audited", col("q_id") % auditStride === 0)
        .withColumn("n_hit",
          when(col("audited"), coalesce(col("n_hit"), lit(0L))))
        .withColumn("recall_at_5",
          when(col("audited"), round(col("n_hit").cast("double") / 5.0, 6)))
        .drop("audited")
        .orderBy(col("q_id"))
    },
      // stale-index replay: v27's IVF shape, the tombstone mask as the same
      // integer predicate, exact ground truth over the LIVE corpus only
      s"""WITH $embSql,
        |k AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS kk FROM e),
        |cent AS (
        |  SELECT vec_id AS clabel, emb AS cvec, norm AS cnorm
        |  FROM e, k WHERE vec_id < kk),
        |sims AS (
        |  SELECT vec_id, emb, norm, clabel,
        |    ROUND(list_dot_product(emb, cvec) / (norm * cnorm), 6) AS csim
        |  FROM e, cent),
        |assign AS (
        |  SELECT vec_id, emb, norm, clabel AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, clabel) AS crn FROM sims)
        |  WHERE crn = 1),
        |probes AS (
        |  SELECT vec_id AS q_id, emb AS qe, norm AS qn, clabel AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, clabel) AS crn FROM sims
        |    WHERE vec_id % 100 = 0)
        |  WHERE crn <= 2),
        |cand AS (
        |  SELECT q_id, vec_id AS c_id,
        |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |  FROM assign JOIN probes USING (cell) WHERE vec_id <> q_id),
        |mk AS (
        |  SELECT q_id,
        |    CAST(SUM(CASE WHEN c_id % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_masked
        |  FROM cand GROUP BY q_id),
        |t5 AS (
        |  SELECT q_id, c_id, sim, rnk FROM (
        |    SELECT q_id, c_id, sim, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, c_id) AS rnk
        |    FROM cand WHERE c_id % 10 <> 3)
        |  WHERE rnk <= 5),
        |q2 AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM e
        |       WHERE vec_id % 100 = 0),
        |ex AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, vec_id AS c_id, ROW_NUMBER() OVER (
        |      PARTITION BY q_id ORDER BY sim DESC, vec_id) AS xr
        |    FROM (SELECT q_id, vec_id,
        |            ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
        |          FROM e, q2
        |          WHERE vec_id <> q_id AND vec_id % 10 <> 3))
        |  WHERE xr <= 5),
        |h AS (
        |  SELECT a.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit
        |  FROM t5 a SEMI JOIN ex ON ex.q_id = a.q_id AND ex.c_id = a.c_id
        |  GROUP BY a.q_id)
        |SELECT t.q_id, t.c_id AS top1_id, t.sim AS top1_sim, mk.n_masked,
        |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 5.0, 6)
        |    AS recall_at_5
        |FROM t5 t JOIN mk ON t.q_id = mk.q_id
        |LEFT JOIN h ON t.q_id = h.q_id
        |WHERE t.rnk = 1 ORDER BY t.q_id""".stripMargin),

    // SCALE-ROBUST CASCADE (r13 item 3 built it width-robust; r15
    // rebuilt it RECALL-robust after honest measurement — see
    // [[cascadePq]]'s scaladoc for the record correction; r16 moved the
    // index to REST — [[cascadePqStored]]/[[graft.store.VectorIndex]]).
    // Three-stage serving shape over the stored index: stage 1 ranks the
    // corpus by Hamming over 8 stored 62-plane full-width hyperplane
    // words (496 bits — bits past that measured flat, SWEEP16; full
    // width fixes the 4%-of-signal blindness at d=1536) keeping a
    // SIZE-DERIVED C1 = clamp(100, n/100, 2048); stage 2 scores
    // survivors by reconstructing their STORED PQ codes (m = max(16,
    // d/16) subspaces of ~16 dims — the granularity where 4-bit codes
    // still discriminate) against the stored codebook (no per-query
    // encode, never touching the wide embeddings) keeping C2 = max(30,
    // C1/4) at d ≤ 64 — and SKIPPING ITSELF at d > 64, where every
    // swept PQ prune landed under the 0.9 recall bar and C2 = C1 (exact
    // rerank of ≤ 2,048 capped survivors) measures 0.97 at 64k;
    // stage 3 exact-reranks to top-5. The index build
    // (signatures + codebook training + corpus encode) runs ONCE per
    // corpus and lives in parquet sidecars; serving reads lookups, which
    // is what a vector store is. The production recall ledger lives in
    // v44 (separate diagnostic, v19/v24 discipline) so the serving
    // query's cost is the serving cost. Scale shape: codebook = one-row
    // broadcast; stage-2 reconstruct is a map-side expression over
    // broadcast survivor frames; shuffles are the per-query top-C1
    // partial aggregate and nothing else.
    QuerySpec("v43_cascade_pq", withHashAggBudget((s, dir) => {
      val (_, _, casc, _) = cascadePqStored(s, dir)
      casc.select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
        .orderBy(col("q_id"), col("rnk"))
    }),
      // width-robust cascade replay: v32's Hamming stage 1 → v12's PQ
      // train/encode (sampled: vec_id % 8 = 0, seeds < 128) ADC on stage-1
      // survivors → exact rerank; serving top-5
      (cascadePqSqlStages +
        """
          |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, c_id, sim FROM casc
          |ORDER BY q_id, rnk""".stripMargin)),

    // v43's cost/quality ledger — recall@5 of the PQ cascade against the
    // exact ground truth, next to each stage's scored-candidate count
    // (v32's ledger shape; kept OUT of v43 so the brute-force audit never
    // bills the serving path). CAUTION the r15 record correction taught:
    // this gate-corpus number rides a 25-row panel (n=640 → 5 queries) —
    // it pins CORRECTNESS of the recall arithmetic, not retrieval
    // quality; quality claims come from CascadeTune's 3,200-row panels
    // at 64k (SWEEP15).
    QuerySpec("v44_cascade_pq_recall", withHashAggBudget((s, dir) => {
      val e = emb(s, dir)
      val (st1, st2, casc, qs) = cascadePqStored(s, dir)
      val top5 = casc.select(col("q_id"), col("c_id")).localCheckpoint(true)
      val exact = cosineTopK(e,
        qs.select(col("q_id"), col("qe"), col("qn")), 5)
        .select(col("q_id"), col("c_id"))
        .localCheckpoint(true)
      val hit = top5.join(exact, Seq("q_id", "c_id"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(st1.agg(count(lit(1)).as("n_stage1")))
        .crossJoin(st2.agg(count(lit(1)).as("n_stage2")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .withColumn("recall_at_5",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
    }),
      // the cascade's cost/quality ledger: same replay + brute-force exact
      // ground truth, v32's ledger tail
      (cascadePqSqlStages +
        """,
          |px AS (
          |  SELECT q_id, vec_id AS c_id,
          |    ROUND(list_dot_product(qe, emb) / (qn * norm), 6) AS sim
          |  FROM e, q WHERE vec_id <> q_id),
          |ex AS (
          |  SELECT q_id, c_id FROM (
          |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
          |      ORDER BY sim DESC, c_id) AS rnk FROM px)
          |  WHERE rnk <= 5),
          |c5 AS (SELECT q_id, c_id FROM casc)
          |SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
          |  (SELECT COUNT(*) FROM st1) AS n_stage1,
          |  (SELECT COUNT(*) FROM st2) AS n_stage2,
          |  (SELECT COUNT(*) FROM c5 SEMI JOIN ex USING (q_id, c_id)) AS n_hit,
          |  ROUND((SELECT COUNT(*) FROM c5 SEMI JOIN ex USING (q_id, c_id))
          |    / CAST((SELECT COUNT(*) FROM ex) AS DOUBLE), 6) AS recall_at_5""".stripMargin))
  )

  /** The width-robust PQ cascade shared by v43 (serving) and v44
    * (recall ledger): sign-bit Hamming top-100 → sample-trained
    * width-adaptive PQ ADC top-`c2` → exact rerank top-5. Returns
    * (st1 survivors, st2 survivors, reranked top-5 with rnk/sim, qs).
    * Eager checkpoints on each survivor frame: every one feeds two
    * consumers (next stage + its cost count in v44) — the multi-consumer
    * rule; all are ≤ q×100 rows.
    *
    * ROUND-15 RECALL RECORD CORRECTION + FIX. The r14 ledger read
    * recall@5 = 0.88 — measured on the sf0.01 CORRECTNESS corpus, a
    * 25-row panel (5 queries) at n=640. Honest measurement (CascadeTune,
    * 3,200-row panels) put the r14 config at **0.27** on a 64k d=64
    * corpus and **0.18** at 64k d=1536: the 64-bit sign signature has a
    * 65-value Hamming scale (top-C1 of 64k selects inside ~3-bit tie
    * bands — noise) and reads only the first 64 dims (4% of the signal
    * at d=1536). The fix, swept dial-by-dial in SWEEP15:
    *  - stage-1 signature = `words` independent 62-plane FULL-WIDTH
    *    hyperplane words (bits fix the tie-band noise, full width fixes
    *    the d-axis): 0.27 → 0.49 at C1=100 from bits alone;
    *  - C1/C2 SIZE-DERIVED (pass 0): C1 = clamp(100, n/100, 2048),
    *    C2 = max(30, C1/4) — a FIXED keep from a growing corpus is the
    *    n-axis recall killer (the GLADDER density-scaled-banding lesson,
    *    on the ranking path); at the sf0.01 gate the derivation yields
    *    exactly the r14 (100, 30), which the DuckDB oracle replays;
    *  - PQ trains on a 1/4 sample with 2 Lloyd steps (k stays 16: the
    *    swept k=64 codebook paid ~4× encode argmin cost for <0.02
    *    recall — the 4-bit-code fidelity boundary is C2's job).
    * Measured end state (64k corpora, 3,200-row panels): 0.81 at d=64,
    * see SWEEP15 for d=1536 — vs 0.27/0.18 shipped in r14. Training
    * reads n/stride vectors; the only corpus-wide pass is the O(n·d·62W)
    * signature build — index work, amortized at serve in a real store. */
  private[graft] def cascadePq(e: DataFrame, k: Int = 16, stride: Int = 4,
      steps: Int = 2, c1: Int = 0, c2: Int = 0,
      words: Int = 8): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // size-derived keeps (metadata-only count: parquet row count)
    val c1v = if (c1 > 0) c1
      else math.max(100L, math.min(2048L, e.count() / 100L)).toInt
    val c2v = if (c2 > 0) c2 else math.max(30, c1v / 4)
    // stage-1 signature: `words` independent 62-plane FULL-WIDTH
    // hyperplane words (graft_hsig offset = w·62, span 0). Two r15
    // findings drive this over the r14 sign-bit packing: (a) 64 sign
    // bits give a 65-value Hamming scale, so ranking top-C1 of a 64k
    // corpus happens inside ~3-bit tie bands — measured recall 0.27
    // where the 25-row sf0.01 panel had read 0.88; (b) the sign bits
    // read only the first 64 dims — 4% of the signal at d=1536. W
    // full-width words cost one O(n·d·62W) index pass (codegen'd tight
    // loop, amortized at serve time in a real index) and fix both axes.
    val sigCols = (0 until words).map(w =>
      expr(s"graft_hsig(emb, 62, ${w * 62}, 0)").as(s"sig$w"))
    val coded = e.select(Seq(col("vec_id"), col("emb"), col("norm")) ++
      sigCols: _*)
    val sigNames = (0 until words).map(w => s"sig$w")
    val qs = coded.select(col("vec_id").as("q_id"), col("emb").as("qe"),
        col("norm").as("qn"),
        struct(sigNames.map(col): _*).as("qsig"))
      .filter(expr("q_id % 100 = 0"))
    val ham = sigNames.map(n => s"bit_count($n ^ qsig.$n)").mkString(" + ")
    val nbits = 62 * words
    val topC = udaf(new graft.functions.TopKAggregator(c1v))
    val st1 = fanout(coded.select(col("vec_id") +: sigNames.map(col): _*))
      .crossJoin(broadcast(qs.select(col("q_id"), col("qsig"))))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("hsim",
        (lit(nbits) - expr(ham)).cast("double") / lit(nbits.toDouble))
      .groupBy(col("q_id"))
      .agg(topC(col("vec_id"), col("hsim")).as("top"))
      .select(col("q_id"),
        explode(expr("transform(top, s -> s.c_id)")).as("c_id"))
      .localCheckpoint(true)
    val sw = "(size(emb) div 16)"
    // codegen'd kernel, fold-order-identical to the HOF chain (L2Squared)
    def l2(a: String, b: String) = s"round(graft_l2($a, $b), 6)"
    val cbRow = pqCodebook(e, k, stride, steps)
    // encode + ADC for SURVIVORS only (q×100 rows): argmin per subspace
    // over the broadcast codebook, reconstruct, asymmetric cosine.
    // Width-lean form: subvectors sliced ONCE per row (sv_arr), the
    // argmin sorts (dd, cid) scalar structs only, and the chosen
    // centroid is fetched by position — the full-width arrays move
    // exactly once per subspace (into the flatten), not through sort
    // comparators. Selection and tie-breaks identical to v12's
    // sort-the-structs form (cents are cid-ordered and contiguous).
    val svArrExpr =
      s"transform(sequence(0, 15), s -> slice(emb, s * $sw + 1, $sw))"
    val dqExpr =
      s"""flatten(zip_with(sv_arr, cb, (sv, cents) ->
         |  element_at(cents,
         |    element_at(array_sort(transform(cents, c ->
         |      struct(${l2("sv", "c.cv")} as dd, c.cid as cid))), 1).cid + 1
         |  ).cv))""".stripMargin
    val w2 = Window.partitionBy(col("q_id")).orderBy(col("asim").desc, col("c_id"))
    val st2 = e.join(broadcast(st1), col("vec_id") === col("c_id"))
      .crossJoin(broadcast(cbRow))
      .withColumn("sv_arr", expr(svArrExpr))
      .withColumn("dq", expr(dqExpr))
      .withColumn("dqn", expr("sqrt(graft_dot(dq, dq))"))
      .join(broadcast(qs.select(col("q_id"), col("qe"), col("qn"))), Seq("q_id"))
      .withColumn("asim",
        round(expr("graft_dot(qe, dq)") / (col("qn") * col("dqn")), 6))
      .withColumn("r", row_number().over(w2))
      .filter(col("r") <= c2v)
      .select(col("q_id"), col("c_id"))
      .localCheckpoint(true)
    val w3 = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    val casc = e.join(broadcast(st2), col("vec_id") === col("c_id"))
      .join(broadcast(qs.select(col("q_id"), col("qe"), col("qn"))), Seq("q_id"))
      .withColumn("sim",
        round(expr("graft_dot(qe, emb)") / (col("qn") * col("norm")), 6))
      .withColumn("rnk", row_number().over(w3).cast("long"))
      .filter(col("rnk") <= 5)
    (st1, st2, casc, qs)
  }

  /** PQ codebook training, shared by the in-query cascade ([[cascadePq]])
    * and the index-at-rest build ([[buildIndexFrames]]): seeds = the k
    * lowest sampled ids (0, stride, …, (k−1)·stride), `steps` Lloyd
    * refinements over sample subvectors, rounded means; sub-width is
    * d/16, derived from the data. Returns the ONE-ROW broadcastable
    * codebook frame (`cb`: 16 cid-ordered centroid lists).
    *
    * cid = vec_id/stride ∈ 0..k−1, CONTIGUOUS (vs v12's raw vec_id): the
    * encode can then fetch the argmin centroid by POSITION (cid+1)
    * instead of sorting structs that carry the (d/16)-dim centroid
    * arrays — at d=1536 that struct traffic was the encode's dominant
    * cost. Order-preserving bijection, so tie-breaks match the oracle. */
  private[graft] def pqCodebook(e: DataFrame, k: Int, stride: Int,
      steps: Int, m: Int = 16): DataFrame = {
    val sw = s"(size(emb) div $m)"
    def l2(a: String, b: String) = s"round(graft_l2($a, $b), 6)"
    // sample feeds every Lloyd step — the multi-consumer rule
    val subs = e.filter(expr(s"vec_id % $stride = 0"))
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(emb, s * $sw + 1, $sw))"))
        .as(Seq("sub", "sv")))
      .localCheckpoint(true)
    val seeds = subs.filter(col("vec_id") < k.toLong * stride)
      .select(expr(s"cast(vec_id div $stride as int)").as("cid"), col("sub"),
        col("sv").as("cv"))
    /** One Lloyd refinement: assign every sample subvector to its nearest
      * centroid (min-struct, tie on cid — the oracle's ROW_NUMBER order),
      * replace each centroid with the 6-dp dim-wise mean of its members;
      * cells that lost every member keep their previous centroid. The
      * frame is k×16 rows — checkpointed per step so `steps` rounds chain
      * without nesting plans. */
    def lloyd(cents: DataFrame): DataFrame = {
      val assigned = subs.join(broadcast(cents), Seq("sub"))
        .withColumn("dist", expr(l2("sv", "cv")))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("dist"), col("cid"))).as("best"),
          first(col("sv")).as("sv"))
        .select(col("sub"), col("best.cid").as("cid"),
          posexplode(col("sv")).as(Seq("pos", "x")))
      val means = assigned
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(round(avg(col("x")), 6).as("mu"))
        .groupBy(col("sub"), col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mu))), t -> t.mu)")
          .as("cvNew"))
      cents.join(means, Seq("sub", "cid"), "left_outer")
        .select(col("sub"), col("cid"),
          coalesce(col("cvNew"), col("cv")).as("cv"))
        .localCheckpoint(true)
    }
    val cents = (1 to steps).foldLeft(seeds) { (c, _) => lloyd(c) }
    cents
      .groupBy(col("sub"))
      .agg(expr("transform(array_sort(collect_list(struct(cid, cv))), t -> struct(t.cid as cid, t.cv as cv))")
        .as("cents"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, cents))), t -> t.cents)")
        .as("cb"))
  }

  /** INDEX-AT-REST frames (round-15 verdict item 1): the per-corpus work
    * the serving cascade was re-paying inside every query — `words`
    * full-width 62-plane sign signatures, the trained PQ codebook, and
    * every row's 16 subspace code indices + reconstructed-vector norm —
    * computed ONCE and persisted by [[graft.store.VectorIndex]]. Returns
    * (codes, codebook): codes = (vec_id, sig0..sigW−1, code: array<int>,
    * dqn: double) — ~W·8 + 16·4 + 8 bytes per row however wide the
    * embeddings are (the 100 TB point: the index is ~256 bytes/vector
    * where the corpus is 12 KB/vector at d=1536); codebook = the one-row
    * broadcast frame. Every expression is byte-identical to the in-query
    * cascade's encode (argmin struct sort, position fetch, same rounding),
    * and parquet round-trips doubles/longs/ints losslessly, so serving
    * from the stored frames is bit-equal to [[cascadePq]] at equal dials
    * — which is what keeps the v43/v44 DuckDB oracles valid unchanged. */
  private[graft] def buildIndexFrames(e: DataFrame, words: Int, k: Int,
      stride: Int, steps: Int, m: Int = 16): (DataFrame, DataFrame) = {
    val cbRow = pqCodebook(e, k, stride, steps, m)
    val sw = s"(size(emb) div $m)"
    def l2(a: String, b: String) = s"round(graft_l2($a, $b), 6)"
    val sigCols = (0 until words).map(w =>
      expr(s"graft_hsig(emb, 62, ${w * 62}, 0)").as(s"sig$w"))
    val svArrExpr =
      s"transform(sequence(0, ${m - 1}), s -> slice(emb, s * $sw + 1, $sw))"
    val codeExpr =
      s"""zip_with(sv_arr, cb, (sv, cents) ->
         |  element_at(array_sort(transform(cents, c ->
         |    struct(${l2("sv", "c.cv")} as dd, c.cid as cid))), 1).cid)"""
        .stripMargin
    val dqExpr =
      "flatten(zip_with(code, cb, (ci, cents) -> element_at(cents, ci + 1).cv))"
    val codes = fanout(e.select(col("vec_id"), col("emb")))
      .crossJoin(broadcast(cbRow))
      .withColumn("sv_arr", expr(svArrExpr))
      .withColumn("code", expr(codeExpr))
      .withColumn("dq", expr(dqExpr))
      .withColumn("dqn", expr("sqrt(graft_dot(dq, dq))"))
      .select(Seq(col("vec_id")) ++ sigCols ++
        Seq(col("code"), col("dqn")): _*)
    (codes, cbRow)
  }

  /** Signature width for the stored index: 8 full-width 62-plane words
    * (496 bits) at EVERY d. The r15 residual hypothesis — "d=1536 recall
    * is RP-sketch-error-bound, more bits are the path" — was tested and
    * REFUTED by SWEEP16's stored-bits ladder: w = 8/16/32 measured
    * 0.536/0.528/0.527 at fixed keeps on the 64k d=1536 corpus, i.e.
    * flat-to-noise, while the C2 ladder moved the same corpus 0.54 →
    * 0.97. Stage 1 at 496 bits already holds ≥ 0.97 of the truth inside
    * its size-derived top-C1; the binder was stage-2 ranking fidelity
    * (see [[cascadePqStored]]'s C2 derivation). Kept as a function so a
    * future d-regime with a measured bits deficit has one place to
    * change. */
  private[graft] def derivedWords(d: Int): Int = 8

  /** Width-derived PQ subspace count: d/16-dim subspaces hold PQ at the
    * granularity where a 4-bit codebook still discriminates. The SWEEP16
    * d=1536 ladder measured the failure the fixed m=16 hid: 96-dim
    * subspaces make ADC ranking near-blind however fine the codebook
    * (recall 0.54 at k=16, 0.65 at k=64), while m=96 (16-dim subspaces)
    * restores the PQ stage as a real pruner. At the d=64 gates the
    * derivation reproduces m=16 — oracles unchanged. */
  private[graft] def derivedSubspaces(d: Int): Int = math.max(16, d / 16)

  /** The SERVED cascade (round-15 verdict item 1): [[cascadePq]]'s
    * three-stage shape over the STORED index. The r15 cascade re-derived
    * the full signature set and re-encoded every stage-1 survivor inside
    * each query — index work billed to serve, the 2.6 → 4.1 s regression
    * and the reason k > 16 codebooks were uneconomical by construction.
    * Here stage 1 ranks stored signature words (no signature build),
    * stage 2 reconstructs survivors from stored codes + the broadcast
    * codebook (no argmin encode — and it never touches the wide
    * embeddings table at all: the asymmetric-distance stage reads ~256
    * bytes/candidate where the corpus row is 12 KB at d=1536), and only
    * stage 3's exact rerank reads the q×C2 survivor embeddings. Dials
    * default to the size/width-derived values ([[derivedWords]], the
    * clamp C1/C2) — at the correctness gates they equal r15's, and the
    * stored frames are bit-identical to the in-query encode, so results
    * and oracles are unchanged there by construction. */
  private[graft] def cascadePqStored(s: SparkSession, dir: String,
      k: Int = 16, stride: Int = 4, steps: Int = 2, c1: Int = 0,
      c2: Int = 0, words: Int = 0, m: Int = 0)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = emb(s, dir)
    val d = e.select(size(col("emb"))).head().getInt(0)
    val w = if (words > 0) words else derivedWords(d)
    val mv = if (m > 0) m else derivedSubspaces(d)
    val c1v = if (c1 > 0) c1
      else math.max(100L, math.min(2048L, e.count() / 100L)).toInt
    // WIDTH-AWARE C2 (SWEEP16 d=1536 ladder): past the historical d=64,
    // C2 = C1 — the exact-rerank regime. Measured: stage 1 (w=8 Hamming,
    // size-derived C1) already holds 0.97/0.99 of the truth at C1 =
    // 640/1280 on the 64k d=1536 corpus, while EVERY swept PQ prune
    // below C1 lands under the 0.9 bar (m=16: 0.54; k=64: 0.65; m=96:
    // 0.74 at C1/4, 0.82 at C1=1280) — and wider signatures move
    // nothing (w=16/32 within −0.01 of w=8), so bits are not the binder,
    // stage-2 ranking fidelity is. Exact rerank is affordable BY
    // CONSTRUCTION: C1 is capped at 2,048, so the rerank reads ≤ 2,048
    // wide rows per query at any corpus size. At d ≤ 64 the PQ stage
    // measurably prunes at equal recall and keeps its C1/4 keep. */
    val c2v = if (c2 > 0) c2
      else if (d > 64) c1v
      else math.max(30, c1v / 4)
    val (codes, cbRow) = graft.store.VectorIndex.ensure(s, dir, w, k,
      stride, steps, mv)(buildIndexFrames(e, w, k, stride, steps, mv))
    val sigNames = (0 until w).map(i => s"sig$i")
    val qs = codes.filter(expr("vec_id % 100 = 0"))
      .join(e.select(col("vec_id"), col("emb"), col("norm")), Seq("vec_id"))
      .select(col("vec_id").as("q_id"), col("emb").as("qe"),
        col("norm").as("qn"), struct(sigNames.map(col): _*).as("qsig"))
    val ham = sigNames.map(n => s"bit_count($n ^ qsig.$n)").mkString(" + ")
    val nbits = 62 * w
    val topC = udaf(new graft.functions.TopKAggregator(c1v))
    val st1 = fanout(codes.select(col("vec_id") +: sigNames.map(col): _*))
      .crossJoin(broadcast(qs.select(col("q_id"), col("qsig"))))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("hsim",
        (lit(nbits) - expr(ham)).cast("double") / lit(nbits.toDouble))
      .groupBy(col("q_id"))
      .agg(topC(col("vec_id"), col("hsim")).as("top"))
      .select(col("q_id"),
        explode(expr("transform(top, s -> s.c_id)")).as("c_id"))
      .localCheckpoint(true)
    val dqExpr =
      "flatten(zip_with(code, cb, (ci, cents) -> element_at(cents, ci + 1).cv))"
    val w2 = Window.partitionBy(col("q_id")).orderBy(col("asim").desc, col("c_id"))
    // C2 ≥ C1 ⇒ the PQ stage keeps everything — skip the reconstruct
    // pass entirely (the exact-rerank regime SWEEP16's d=1536 ladder
    // ships); the ADC rank is only computed when it actually prunes
    val st2 =
      if (c2v >= c1v) st1
      else codes.select(col("vec_id"), col("code"), col("dqn"))
        .join(broadcast(st1), col("vec_id") === col("c_id"))
        .crossJoin(broadcast(cbRow))
        .withColumn("dq", expr(dqExpr))
        .join(broadcast(qs.select(col("q_id"), col("qe"), col("qn"))), Seq("q_id"))
        .withColumn("asim",
          round(expr("graft_dot(qe, dq)") / (col("qn") * col("dqn")), 6))
        .withColumn("r", row_number().over(w2))
        .filter(col("r") <= c2v)
        .select(col("q_id"), col("c_id"))
        .localCheckpoint(true)
    val w3 = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    val casc = e.join(broadcast(st2), col("vec_id") === col("c_id"))
      .join(broadcast(qs.select(col("q_id"), col("qe"), col("qn"))), Seq("q_id"))
      .withColumn("sim",
        round(expr("graft_dot(qe, emb)") / (col("qn") * col("norm")), 6))
      .withColumn("rnk", row_number().over(w3).cast("long"))
      .filter(col("rnk") <= 5)
    (st1, st2, casc, qs)
  }

  /** v17's binary-quantization pipeline (sign-bit pack → XOR/popcount
    * Hamming top-30 → exact rerank top-5) over `e`, shared with the v19
    * recall measurement. Queries are the vec_id % 100 = 0 sample. */
  private def binaryTopK(e: DataFrame): DataFrame = {
    val packLo =
      "aggregate(transform(slice(emb, 1, 32), (x, i) -> " +
        "IF(x > 0D, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
        "CAST(0 AS BIGINT), (acc, b) -> acc + b)"
    val packHi =
      "aggregate(transform(slice(emb, 33, 32), (x, i) -> " +
        "IF(x > 0D, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
        "CAST(0 AS BIGINT), (acc, b) -> acc + b)"
    val coded = e.select(col("vec_id"), col("emb"), col("norm"),
      expr(packLo).as("lo"), expr(packHi).as("hi"))
    val qs = coded.filter(expr("vec_id % 100 = 0"))
      .select(col("vec_id").as("q_id"), col("emb").as("qe"),
        col("norm").as("qn"), col("lo").as("qlo"), col("hi").as("qhi"))
    val topC = udaf(new graft.functions.TopKAggregator(30))
    val cand = fanout(coded.select(col("vec_id"), col("lo"), col("hi")))
      .crossJoin(broadcast(qs.select(col("q_id"), col("qlo"), col("qhi"))))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("ham",
        expr("bit_count(lo ^ qlo) + bit_count(hi ^ qhi)"))
      .withColumn("hsim", (lit(64) - col("ham")).cast("double") / lit(64.0))
      .groupBy(col("q_id"))
      .agg(topC(col("vec_id"), col("hsim")).as("top"))
      .select(col("q_id"), explode(expr("transform(top, s -> s.c_id)")).as("c_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    e.join(broadcast(cand), col("vec_id") === col("c_id"))
      .join(broadcast(qs.select(col("q_id"), col("qe"), col("qn"))), Seq("q_id"))
      .withColumn("sim",
        round(expr("graft_dot(qe, emb)") / (col("qn") * col("norm")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("c_id"), col("sim"))
  }

  /** One Lloyd iteration: assign every vector to its nearest centroid
    * (max-struct aggregate — map-side combinable, no window), then replace
    * each centroid with the 6-dp-rounded dim-wise mean of its members;
    * cells that lost every member keep their previous centroid. */
  private def kmeansIter(e: DataFrame, cent: DataFrame): DataFrame = {
    // the assign CARRIES emb through the aggregate (kmeansAssignCarry) —
    // the old form joined the (vec_id, cid) assign output back to the
    // corpus by vec_id to re-attach emb, paying one corpus-sized
    // shuffle join PER LLOYD ITERATION (r17, guide §2.4: two operations
    // keyed the same way share one exchange; here the join disappears
    // outright because the aggregate already holds the row)
    val means = kmeansAssignCarry(e, cent)
      .select(col("cid"), posexplode(col("emb")).as(Seq("pos", "val")))
      .groupBy(col("cid"), col("pos"))
      .agg(round(avg(col("val")), 6).as("cv"))
      .groupBy(col("cid"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, cv))), x -> x.cv)")
        .as("nvec"))
    cent.select(col("cid"), col("cvec").as("pvec"))
      .join(means, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("nvec"), col("pvec")).as("cvec"))
      .withColumn("cnorm", expr("sqrt(graft_dot(cvec, cvec))"))
  }

  /** Deterministic seeds (vec_id < 8) iterated `iters` Lloyd steps.
    *
    * Each iteration's centroid frame is an eager localCheckpoint (r16
    * optimization, guide §2.4/§7.2): kmeansIter references its input
    * centroids TWICE (the assign broadcast + the lost-cell fallback join),
    * so an unbarriered fold doubles the centroid subtree per iteration —
    * 2^iters copies of the corpus-assign pipeline in the final plan
    * (measured: v25's three-arm elbow plan carried 33 FileScans; the
    * barriered form carries one per arm stage). The frame is k rows of
    * one array — materialization is trivial next to one plan re-walk,
    * the pqCodebook lloyd fold set the precedent. */
  private def kmeansCentroids(e: DataFrame, iters: Int, k: Int = 8): DataFrame = {
    val seeds = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("emb").as("cvec"))
      .withColumn("cnorm", expr("sqrt(graft_dot(cvec, cvec))"))
    (1 to iters).foldLeft(seeds) { (c, _) =>
      val next = kmeansIter(e, c).localCheckpoint(true)
      // iteration N−1's blocks are dead once N materializes (r17, the
      // PageRank/CC unpersist discipline; no-op on the seed frame)
      Barriers.release(c)
      next
    }
  }

  /** k-means with DATA-DERIVED k = ⌈n/64⌉: holds ⟨cell⟩ ≈ 64 by
    * construction so v16's within-cell pair enumeration (Σ|cell|²) stays
    * LINEAR in n at any scale — the round-9 verdict's one documented soft
    * spot, now parameterized instead of commented. The count rides a
    * broadcast one-row frame into the seed filter (no driver action);
    * n/64 is exact dyadic arithmetic, so ceil agrees bit-for-bit with the
    * oracle's scalar-subquery twin. At the test scales k = ⌈500/64⌉ = 8
    * (identical to the former fixed seeding) and ⌈2000/64⌉ = 32 at sf0.1.
    *
    * Cost shift to be explicit about: pair enumeration drops to linear
    * (Σ|cell|² ≈ n·64) but the broadcast ASSIGN becomes O(n·k) = O(n²/64)
    * dot products — map-side, shuffle-free, embarrassingly parallel, so
    * it is flops not data movement, and it is the binding term only at
    * extreme n. The production escape at that point is two-level
    * clustering (coarse-assign to √k super-cells first, exactly v05's
    * IVF shape), which this engine already has the pieces for. */
  private def kmeansCentroidsAdaptive(e: DataFrame, iters: Int): DataFrame = {
    val kf = e.agg(
      ceil(count(lit(1)).cast("double") / 64.0).cast("long").as("kk"))
    val seeds = e.crossJoin(broadcast(kf))
      .filter(col("vec_id") < col("kk"))
      .select(col("vec_id").as("cid"), col("emb").as("cvec"))
      .withColumn("cnorm", expr("sqrt(graft_dot(cvec, cvec))"))
    // per-iteration barrier + superseded-frame release — see kmeansCentroids
    (1 to iters).foldLeft(seeds) { (c, _) =>
      val next = kmeansIter(e, c).localCheckpoint(true)
      Barriers.release(c)
      next
    }
  }

  /** One-row frame holding EVERY centroid as one array element
    * (cid, cvec, cnorm), cid-sorted — the broadcast side of the map-side
    * argmax assign ([[graft.functions.CosArgmax]]). collect_list to a
    * single group: never near the ObjectHashAggregate fallback. */
  private def centsRow(cent: DataFrame): DataFrame =
    cent.agg(array_sort(collect_list(struct(col("cid").cast("long").as("cid"),
      col("cvec"), col("cnorm")))).as("cents"))

  /** Nearest-centroid assignment: (vec_id, cid, csim), highest 6-dp cosine,
    * ties to the lowest cluster id.
    *
    * MAP-SIDE (r17): the historical form enumerated (row × centroid) via
    * crossJoin(broadcast(cent)) and reduced with a max-struct
    * groupBy(vec_id) — an n-row shuffle, an n×k-row stream through the
    * join/aggregate operators, and (with an array-carrying buffer) an
    * ObjectHashAggregate fallback hazard (measured: 876 GB memory spill
    * on v16's 128× rung). The argmax now never leaves the row: one
    * codegen'd kernel over a one-row broadcast centroid array — same
    * dots, same round-6, same tie-break, zero shuffles (guide §2.4).
    * fanout stays: the kernel's k·dim work per row needs the scan spread
    * at gate scale. */
  private def kmeansAssign(e: DataFrame, cent: DataFrame): DataFrame =
    fanout(e).crossJoin(broadcast(centsRow(cent)))
      .withColumn("best", expr("graft_cos_argmax(emb, norm, cents)"))
      // coalesce-to-sentinel makes the id NON-NULLABLE: downstream inner
      // joins on it otherwise INFER isnotnull(cosargmax(..).cid) and
      // predicate pushdown duplicates the kernel into the join CONDITION
      // — two argmax evaluations per corpus row (guide §4.4's class,
      // observed in v27's executed plan). The kernel is null only on
      // malformed input (can't arise on the dense schema); −1 matches no
      // cid, so a sentinel row behaves exactly like the null it replaces.
      .select(col("vec_id"), coalesce(col("best.cid"), lit(-1L)).as("cid"),
        col("best.csim").as("csim"))

  /** [[kmeansAssign]] keeping the vector payload (emb, norm) on the row —
    * trivial in the map-side form (the row never left), where the
    * aggregate form paid either a corpus join-back (pre-r17) or an
    * array-buffered ObjectHashAggregate (the rejected carry-aggregate). */
  private def kmeansAssignCarry(e: DataFrame, cent: DataFrame): DataFrame =
    fanout(e).crossJoin(broadcast(centsRow(cent)))
      .withColumn("best", expr("graft_cos_argmax(emb, norm, cents)"))
      // sentinel: see kmeansAssign (kills the inferred-isnotnull double eval)
      .select(col("vec_id"), coalesce(col("best.cid"), lit(-1L)).as("cid"),
        col("best.csim").as("csim"), col("emb"), col("norm"))

  /** IVF (inverted-file) top-5: coarse-quantize by per-label centroids
    * (rounded → engine-independent), assign each corpus vector to its
    * nearest cell with ONE map-side-combinable max-struct aggregate (no 10×
    * window shuffle), probe each query's 2 nearest cells, exact-score only
    * inside them with the probes broadcast (the corpus never shuffles).
    * Returns (q_id, rnk, c_id, sim), rnk ≤ 5. */
  /** Per-label coarse centroids (clabel, cvec, cnorm) — dims rounded to
    * 6 dp so both engines rank cell similarities identically. */
  private def cellCentroids(e: DataFrame): DataFrame = e
    .select(col("label"), posexplode(col("emb")).as(Seq("pos", "val")))
    .groupBy(col("label"), col("pos"))
    .agg(round(avg(col("val")), 6).as("cv"))
    .groupBy(col("label"))
    .agg(expr("transform(sort_array(collect_list(struct(pos, cv))), x -> x.cv)")
      .as("cvec"))
    .select(col("label").as("clabel"), col("cvec"),
      expr("sqrt(graft_dot(cvec, cvec))").as("cnorm"))

  /** Cosine similarity of every df row against every (broadcast) cell. */
  /** Scale-capped corpus panel for the pairwise-recall DIAGNOSTICS
    * (v04/v07/v08): their exact ground-truth arm is |panel|² BY DESIGN,
    * so the panel must be a bounded SIZE, not a bounded fraction — the
    * round-11 32× sweep measured the historical 1-in-3 fraction at
    * 147/194/382 s (×194/×158/×181 the 1× times), pure quadratic. The
    * stride 3·max(1, n/500) keeps every 3rd vector at the sf0.01 gate
    * (bit-identical, oracles untouched) and pins a fixed ~167-vector
    * panel at any rung — the recall ESTIMATE is what these queries
    * exist for, and an estimate needs a panel, not the corpus (the
    * v37/v42/mm08 discipline). The LSH arm under test runs on the same
    * panel, so measured recall stays an apples-to-apples ratio. */
  private def recallSample(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val stride = 3L * math.max(1L, e.count() / 500L)
    e.filter(col("vec_id") % stride === 0)
  }

  private def cellSims(df: DataFrame, cents: DataFrame): DataFrame = df
    .crossJoin(broadcast(cents))
    .withColumn("csim",
      round(expr("graft_dot(emb, cvec)") / (col("norm") * col("cnorm")), 6))

  /** Corpus → nearest cell: highest 6-dp cosine, ties to the lowest label.
    *
    * MAP-SIDE (r17, same rewrite as [[kmeansAssign]]): the historical
    * max-struct + first(emb)/first(norm) groupBy(vec_id) enumerated
    * (row × cell) and paid an n-row shuffle through an ObjectHashAggregate
    * (array-typed buffer → the 128-group sort-based fallback sorts the
    * whole n×k fanout at scale — the hazard v16's 128× rung measured at
    * 876 GB memory spill). The argmax now runs as one codegen'd kernel
    * over a one-row broadcast of the cell centroids: same dots, same
    * round-6, same tie-break, zero shuffles past the fanout spread. */
  private def coarseAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    val labelType = cents.schema("clabel").dataType
    val centsArr = cents.agg(array_sort(collect_list(struct(
      col("clabel").cast("long").as("cid"), col("cvec"), col("cnorm"))))
      .as("cents"))
    fanout(e).crossJoin(broadcast(centsArr))
      .withColumn("best", expr("graft_cos_argmax(emb, norm, cents)"))
      // sentinel: see kmeansAssign (kills the inferred-isnotnull double eval)
      .select(col("vec_id"), col("emb"), col("norm"),
        coalesce(col("best.cid"), lit(-1L)).cast(labelType).as("cell"))
  }

  /** Queries (vec_id % 100 = 0) → `nprobe` nearest cells (tiny set:
    * filtered before the window). */
  private def cellProbes(e: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("clabel"))
    cellSims(e.filter(expr("vec_id % 100 = 0")), cents)
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("emb").as("qe"),
        col("norm").as("qn"), col("clabel").as("cell"))
  }

  private def ivfTopK(e: DataFrame): DataFrame = ivfTopKN(e, 2)

  /** IVF top-5 at an explicit `nprobe` (v24's sweep dial; v05/v06 use the
    * production nprobe = 2). */
  private def ivfTopKN(e: DataFrame, nprobe: Int): DataFrame =
    ivfTopKCents(e, cellCentroids(e), nprobe)

  /** v27's coarse cells: the first ⌈√n⌉ vectors as seed centroids, n from
    * a broadcast one-row count (no driver action; sqrt is correctly
    * rounded IEEE on every engine, ceil exact). nlist ∝ √n holds cell
    * occupancy ≈ √n, so scanned candidates per query ≈ nprobe·√n and the
    * all-queries total is O(q·√n) — the remedy for the fixed-nlist
    * quadratic the round-10 ladder measured in v13 (VLADDER.json:
    * 16.9× at 32× because cells were per-label and FIXED in number). */
  private def sqrtSeedCents(e: DataFrame): DataFrame = {
    val kf = e.agg(
      ceil(sqrt(count(lit(1)).cast("double"))).cast("long").as("kk"))
    e.crossJoin(broadcast(kf)).filter(col("vec_id") < col("kk"))
      .select(col("vec_id").as("clabel"), col("emb").as("cvec"),
        col("norm").as("cnorm"))
  }

  /** IVF top-5 over an explicit centroid frame (clabel, cvec, cnorm). */
  private def ivfTopKCents(e: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    ivfTopKAssigned(coarseAssign(e, cents), cellProbes(e, cents, nprobe))

  /** IVF top-5 over an already-assigned cell frame — the seam that lets a
    * sweep (v24) share ONE assignment pass across its nprobe arms instead
    * of re-deriving coarseAssign per arm (r16: 3 identical corpus-assign
    * subtrees in the executed plan). */
  private def ivfTopKAssigned(cells: DataFrame,
      probes: DataFrame): DataFrame = {
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        round(expr("graft_dot(qe, emb)") / (col("qn") * col("norm")), 6))
      .select(col("q_id"), col("vec_id").as("c_id"), col("sim"))
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= 5)
  }

  /** LSH candidate pairs (the ANN scale path): `planes` deterministic random
    * hyperplanes → sign signature (codegen'd `graft_hsig`, plane component
    * j of plane i = ((73856093*(i+1)*(j+7)) mod 2001) - 1000) → `bands`
    * bands of `width` bits each. Signatures are map-side; the only shuffle
    * keys on (band, value) — candidate pairs are bucket-local, never O(n²)
    * in the corpus. (planes, bands) is the recall/cost dial: each extra
    * band adds one more chance for a true pair to collide, at linearly more
    * shuffle volume — v04 measures the 16/4-band baseline, v07 the
    * 60/15-band production configuration, v08 adds MULTI-PROBE on top.
    *
    * `multiProbe`: one side of the bucket join additionally emits each band
    * value with every single bit flipped, so a pair collides in a band when
    * its band values differ by Hamming ≤ 1 (vs exactly 0). This is the
    * classic multi-probe LSH trade: per-band collision probability jumps
    * from p^w to p^w + w·p^(w-1)(1-p) with NO new shuffle stages and no
    * extra data at rest — the probe fan-out (width+1 rows per band) exists
    * only inside the one (band, value)-keyed exchange, and the pair list
    * it feeds still carries 16-byte ids only. The ordered `vec_a < vec_b`
    * filter keeps the asymmetric join exhaustive: a Hamming-1 pair (x, y)
    * always collides as (exact x, probe y). */
  private[graft] def lshCandidates(e: DataFrame, planes: Int, bands: Int,
      width: Int, multiProbe: Boolean = false): DataFrame = {
    val mask = (1 << width) - 1
    // (vec_id, one long) per row — barriered because BOTH bucket-join
    // sides (and under multiProbe every bit-flip union branch: width+1
    // of them) re-derive it otherwise: v09's executed plan carried 9
    // FileScans, each re-running the planes×dims graft_hsig pass (r16;
    // Barriers.eager = SWEEP17's A/B lever, and a real job runs at
    // query-BUILD time — the r16-verdict v03/v04 anomaly suspect, cleared
    // by the r17 re-measure: 1.45/1.09 s at local[32], see
    // OPTIMIZATION_r17.md)
    val sig = Barriers.eager(fanout(e).select(col("vec_id"),
      expr(s"graft_hsig(emb, $planes)").as("sig")))
    val banded = sig
      .select(col("vec_id"), explode(expr(s"sequence(0, ${bands - 1})")).as("b"),
        col("sig"))
      .withColumn("bv", expr(s"shiftright(sig, $width * b) & $mask"))
      .select(col("vec_id"), col("b"), col("bv"), col("sig"))
    val a = banded.select(col("b"), col("bv"), col("vec_id").as("vec_a"),
      col("sig").as("sig_a"))
    // ONE generator branch, not width+1 unions (r17): the union form
    // multiplied the pre-shuffle partition count by width+1 (6×32 = 192
    // map tasks per side at sf0.1, 384-task exchange stages of ~4 ms
    // tasks — pure scheduling churn, and the same multiplier at any
    // scale). explode(array(bv, bv^1, …)) emits the identical row set
    // from the single banded branch; array/xor/explode are all
    // whole-stage-codegen'd (the interpreted-HOF caveat above was about
    // transform() LAMBDAS, which this still avoids).
    val probed =
      if (!multiProbe) banded
      else {
        val variants = ("bv" +: (0 until width).map(k => s"bv ^ ${1 << k}"))
          .mkString(", ")
        banded.select(col("vec_id"), col("b"),
          explode(expr(s"array($variants)")).as("bv"), col("sig"))
      }
    val c = probed.select(col("b"), col("bv"), col("vec_id").as("vec_b"),
      col("sig").as("sig_b"))
    // EMIT-ON-FIRST-BAND dedup (round-13 verdict item 7, replacing the
    // candidate distinct()): a pair colliding in k bands appears k times
    // in the (band, value)-keyed join — per band exactly once, because
    // the a side is exact and a Hamming ≤ 1 collision matches exactly one
    // probe variant. Rounds ≤13 deduped with distinct(), whose EXCHANGE
    // re-shuffled the entire multiplicity-inflated pair stream — at the
    // 128× rung its map-side sort was 10.5–21 GB of disk spill, invariant
    // to every reduce-side knob because the volume is written before any
    // reducer runs. The signatures both sides already carry make the
    // multiplicity recomputable IN PLACE: keep a candidate only in the
    // FIRST band whose width-bit XOR slice has popcount ≤ maxHam
    // (`graft_first_band`, codegen'd bit arithmetic) — same surviving
    // set, each pair exactly once, zero pair-stream shuffles. Cost: one
    // extra long per banded row through the bucket join.
    val maxHam = if (multiProbe) 1 else 0
    val ids = a.join(c, Seq("b", "bv"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(col("b") === expr("graft_first_band(cast(sig_a as bigint) ^ " +
        s"cast(sig_b as bigint), $width, $bands, $maxHam)"))
      .select(col("vec_a"), col("vec_b"))
    // the embedding side is broadcast: the candidate list is orders of
    // magnitude larger than the vector table, and a sort-merge join would
    // sort the 10M+-pair list twice. (On a cluster where the vector table
    // outgrows broadcast, drop the hint — the ids list shuffles on a
    // 16-byte key, still never carrying payloads through the band fan-out.)
    ids
      .join(broadcast(e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
        col("norm").as("norm_a"))), "vec_a")
      .join(broadcast(e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
        col("norm").as("norm_b"))), "vec_b")
      .select(col("vec_a"), col("vec_b"), col("emb_a"), col("emb_b"),
        col("norm_a"), col("norm_b"))
  }

  /** Candidates exact-scored (codegen'd `graft_dot`) and thresholded. */
  private def lshPairs(e: DataFrame, planes: Int = 16, bands: Int = 4,
      width: Int = 4, multiProbe: Boolean = false): DataFrame =
    lshCandidates(e, planes, bands, width, multiProbe)
      .withColumn("sim",
        round(expr("graft_dot(emb_a, emb_b)") / (col("norm_a") * col("norm_b")), 6))
      .filter(col("sim") >= 0.3)
      .select(col("vec_a"), col("vec_b"), col("sim"))

  /** Density-scaled band width: hold expected bucket occupancy ≈ 64 as
    * the corpus grows (DensityScaledLshSpec / PLANS.md "the v09
    * finding"): w-bit bands put n/2^w vectors in a bucket, so the
    * random-collision candidate volume is ∝ n²/2^w — FIXED w is
    * quadratic in n. The round-10 graph cost ladder measured exactly
    * that: at 32× data the fixed-width (60,15,4) pipelines went
    * v10 DNF / v21 473 s / v30 587 s. w = max(4, bit_length(⌈n/64⌉))
    * holds occupancy (and per-row shuffle volume) constant; the floor 4
    * makes the derived config BIT-IDENTICAL to the literal dials at the
    * sf0.01 oracle-gate scale (n=500 → w=4), so the DuckDB replays stay
    * exact while the ladder scales the width. */
  private[graft] def scaledWidth(n: Long): Int =
    math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, (n - 1) / 64)))

  /** [[lshPairs]] with the width dial derived from the corpus size and
    * the band count fitted to the 62-bit signature budget. The one
    * driver-side `count()` is the documented scalar exception (CC's
    * convergence class): the plan's literal dials must be known to BUILD
    * the plan. */
  /** Pure dial derivation behind [[lshPairsScaled]] — (width, bands) for
    * a corpus of n vectors under a signature budget. Clamping the derived
    * width to planesBudget/2 keeps ≥2 bands inside the budget: without
    * it, w > planesBudget/2 makes bands floor at 2 and planes = 2w
    * exceed the budget (and lshCandidates' (1 << w) - 1 mask overflows
    * Int at w ≥ 31). Unreachable below ~10^11 vectors for the 60-plane
    * budget, but the derivation's domain must match the invariant it
    * assumes, not the data sizes we happen to run — the invariant
    * bands·w ≤ budget ∧ w < 31 is require()d here and property-swept to
    * n = 10^18 in DensityScaledLshSpec. */
  private[graft] def lshDials(n: Long, maxBands: Int,
      planesBudget: Int): (Int, Int) = {
    // 30, not 31: the bucket mask is (1 << w) - 1 on Int — w = 31 (which
    // budget/2 alone permits at budget 62) would still overflow. Found
    // by the full-Long-domain property sweep, not by any realistic n.
    val w = math.min(scaledWidth(n), math.min(planesBudget / 2, 30))
    val bands = math.max(2, math.min(maxBands, planesBudget / w))
    require(bands * w <= planesBudget && w < 31,
      s"LSH signature budget violated: bands=$bands width=$w budget=$planesBudget")
    (w, bands)
  }

  private def lshPairsScaled(e: DataFrame, maxBands: Int,
      planesBudget: Int, multiProbe: Boolean = false): DataFrame = {
    val (w, bands) = lshDials(e.count(), maxBands, planesBudget)
    lshPairs(e, planes = bands * w, bands = bands, width = w, multiProbe)
  }

  /** Shared CTE prefix of the v43/v44 oracles, replaying the ROUND-15
    * cascade: stage 1 = 8 independent 62-plane FULL-WIDTH hyperplane
    * words (graft_hsig replay, plane row i of word w = family row
    * i + 62·w; 496-bit Hamming, top-100), PQ codebook trained on the
    * vec_id%4=0 sample with seeds < 64 (k=16 × stride 4) and TWO Lloyd
    * steps, survivor encode + ADC (top-30), exact rerank into `casc`
    * (top-5 with rnk/sim). Keeps 100/30 are the SIZE-DERIVED values at
    * the sf0.01 gate (n=640 → clamp floor); sub-width hardcoded
    * 4 = 64/16 — the gate corpus width; the Spark side derives both
    * from the data, identical at the gate. */
  private def cascadePqSqlStages: String = {
    val words = 8
    val sigWord = (w: Int) =>
      s"""CAST(list_sum(list_transform(range(0, 62), i ->
         |      CASE WHEN list_sum(list_transform(range(0, CAST(len(emb) AS BIGINT)), j ->
         |        emb[CAST(j + 1 AS INT)] *
         |        ((73856093::BIGINT * (i + 1 + ${62 * w}) * (j + 7)) % 2001 - 1000)))
         |      >= 0 THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS sig$w""".stripMargin
    val sigCols = (0 until words).map(sigWord).mkString(",\n    ")
    // DuckDB bit_count returns TINYINT — summing 8 words overflows at 127
    // without the widening cast
    val hamSum = (0 until words)
      .map(w => s"CAST(bit_count(xor(c.sig$w, q.qsig$w)) AS INT)")
      .mkString(" + ")
    val qSigs = (0 until words).map(w => s"c.sig$w AS qsig$w").mkString(", ")
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS emb,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM embeddings),
      |codes AS (
      |  SELECT vec_id,
      |    $sigCols
      |  FROM e),
      |q AS (SELECT c.vec_id AS q_id, e.emb AS qe, e.norm AS qn, $qSigs
      |      FROM codes c JOIN e ON e.vec_id = c.vec_id
      |      WHERE c.vec_id % 100 = 0),
      |cand1 AS (
      |  SELECT q_id, c.vec_id AS c_id,
      |    (${62 * words} - ($hamSum)) / ${62 * words}.0 AS hsim
      |  FROM codes c, q WHERE c.vec_id <> q_id),
      |st1 AS (
      |  SELECT q_id, c_id FROM (
      |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY hsim DESC, c_id) AS r FROM cand1)
      |  WHERE r <= 100),
      |subs AS (
      |  SELECT vec_id, s.sub,
      |    e.emb[CAST(s.sub * 4 + 1 AS INT) : CAST(s.sub * 4 + 4 AS INT)] AS sv
      |  FROM e, (SELECT unnest(range(0, 16)) AS sub) s
      |  WHERE vec_id % 4 = 0),
      |seeds AS (SELECT CAST(vec_id // 4 AS INT) AS cid, sub, sv AS cv
      |          FROM subs WHERE vec_id < 64),
      |d0 AS (
      |  SELECT v.vec_id, v.sub, c.cid, v.sv,
      |    round(list_sum(list_transform(range(1, 5), i ->
      |      (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
      |      * (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 6) AS dist
      |  FROM subs v JOIN seeds c USING (sub)),
      |a0 AS (
      |  SELECT vec_id, sub, cid, sv FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
      |      ORDER BY dist, cid) AS rn FROM d0) WHERE rn = 1),
      |rf AS (
      |  SELECT sub, cid, pos, round(AVG(x), 6) AS mu FROM (
      |    SELECT sub, cid, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos
      |    FROM a0)
      |  GROUP BY sub, cid, pos),
      |rfc AS (SELECT sub, cid, list(mu ORDER BY pos) AS cv FROM rf
      |        GROUP BY sub, cid),
      |cb1 AS (
      |  SELECT s.sub, s.cid, COALESCE(r.cv, s.cv) AS cv
      |  FROM seeds s LEFT JOIN rfc r ON r.sub = s.sub AND r.cid = s.cid),
      |d0b AS (
      |  SELECT v.vec_id, v.sub, c.cid, v.sv,
      |    round(list_sum(list_transform(range(1, 5), i ->
      |      (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
      |      * (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 6) AS dist
      |  FROM subs v JOIN cb1 c USING (sub)),
      |a0b AS (
      |  SELECT vec_id, sub, cid, sv FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
      |      ORDER BY dist, cid) AS rn FROM d0b) WHERE rn = 1),
      |rfb AS (
      |  SELECT sub, cid, pos, round(AVG(x), 6) AS mu FROM (
      |    SELECT sub, cid, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos
      |    FROM a0b)
      |  GROUP BY sub, cid, pos),
      |rfcb AS (SELECT sub, cid, list(mu ORDER BY pos) AS cv FROM rfb
      |         GROUP BY sub, cid),
      |cb AS (
      |  SELECT s.sub, s.cid, COALESCE(r.cv, s.cv) AS cv
      |  FROM cb1 s LEFT JOIN rfcb r ON r.sub = s.sub AND r.cid = s.cid),
      |svid AS (SELECT DISTINCT c_id FROM st1),
      |ssub AS (
      |  SELECT c_id, s.sub,
      |    e.emb[CAST(s.sub * 4 + 1 AS INT) : CAST(s.sub * 4 + 4 AS INT)] AS sv
      |  FROM svid JOIN e ON e.vec_id = c_id,
      |       (SELECT unnest(range(0, 16)) AS sub) s),
      |d1 AS (
      |  SELECT v.c_id, v.sub, c.cid, c.cv,
      |    round(list_sum(list_transform(range(1, 5), i ->
      |      (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
      |      * (v.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 6) AS dist
      |  FROM ssub v JOIN cb c USING (sub)),
      |enc AS (
      |  SELECT c_id, sub, cv FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY c_id, sub
      |      ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1),
      |recon AS (
      |  SELECT c_id, flatten(list(cv ORDER BY sub)) AS dq FROM enc
      |  GROUP BY c_id),
      |cdq AS (SELECT c_id, dq, sqrt(list_dot_product(dq, dq)) AS dqn FROM recon),
      |sc2 AS (
      |  SELECT t.q_id, t.c_id,
      |    round(list_dot_product(qq.qe, cdq.dq) / (qq.qn * cdq.dqn), 6) AS asim
      |  FROM st1 t JOIN cdq USING (c_id) JOIN q qq ON qq.q_id = t.q_id),
      |st2 AS (
      |  SELECT q_id, c_id FROM (
      |    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY asim DESC, c_id) AS r FROM sc2)
      |  WHERE r <= 30),
      |rr AS (
      |  SELECT t.q_id, t.c_id,
      |    round(list_dot_product(qq.qe, c.emb) / (qq.qn * c.norm), 6) AS sim
      |  FROM st2 t JOIN q qq ON qq.q_id = t.q_id JOIN e c ON c.vec_id = t.c_id),
      |casc AS (
      |  SELECT q_id, c_id, sim, rnk FROM (
      |    SELECT q_id, c_id, sim, ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY sim DESC, c_id) AS rnk FROM rr)
      |  WHERE rnk <= 5)""".stripMargin
  }

  /** v30's replay: v21's LSH edge prefix, then 6 unrolled peel rounds
    * (degree filter + two-sided survivor restriction per round). */
  private def kcoreSql: String = {
    def round(i: Int, prev: String) =
      s"""k$i AS (SELECT src AS id FROM $prev GROUP BY src
         |        HAVING COUNT(*) >= 3),
         |sym$i AS (SELECT s.src, s.dst FROM $prev s
         |          JOIN k$i ka ON s.src = ka.id
         |          JOIN k$i kb ON s.dst = kb.id)""".stripMargin
    val rounds = (1 to 6).map(i => round(i, s"sym${i - 1}")).mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |s AS (SELECT vec_id, emb, norm,
       |  CAST(list_sum(list_transform(range(0, 60), i ->
       |    CASE WHEN list_sum(list_transform(range(0, 64), j ->
       |      emb[CAST(j + 1 AS INT)] * ((73856093::BIGINT * (i + 1) * (j + 7)) % 2001 - 1000)))
       |    >= 0 THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS sig FROM e),
       |bands AS (SELECT vec_id, b, (sig >> CAST(4 * b AS INT)) & 15 AS bv
       |          FROM s, range(0, 15) t(b)),
       |p AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
       |      FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv AND a.vec_id < c.vec_id),
       |x AS (SELECT vec_a, vec_b
       |      FROM p JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b
       |      WHERE round(list_dot_product(ea.emb, eb.emb) / (ea.norm * eb.norm), 6) >= 0.3),
       |sym0 AS (SELECT vec_a AS src, vec_b AS dst FROM x
       |         UNION ALL SELECT vec_b, vec_a FROM x),
       |$rounds
       |SELECT src AS vec_id, COUNT(*) AS core_deg
       |FROM sym6 GROUP BY src ORDER BY vec_id""".stripMargin
  }

  /** Full replay of v21: the production 60-plane/15-band LSH edge list
    * (v07's dial — same signature/band/score CTEs as v09 sans probes),
    * symmetrized, then 3 unrolled integer PageRank iterations —
    * floor-division shares, damped-integer update, bit-exact by
    * construction. */
  private def pageRankSql: String = {
    def iter(i: Int, prev: String) =
      s"""i$i AS (
         |  SELECT ed.dst AS id, CAST(SUM(r.rank // r.deg) AS BIGINT) AS inflow
         |  FROM ed JOIN $prev r ON ed.src = r.id GROUP BY ed.dst),
         |r$i AS (
         |  SELECT deg.id, deg.deg,
         |    150000000000 + (85 * COALESCE(inflow, 0)) // 100 AS rank
         |  FROM deg LEFT JOIN i$i ON deg.id = i$i.id)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |s AS (SELECT vec_id, emb, norm,
       |  CAST(list_sum(list_transform(range(0, 60), i ->
       |    CASE WHEN list_sum(list_transform(range(0, 64), j ->
       |      emb[CAST(j + 1 AS INT)] * ((73856093::BIGINT * (i + 1) * (j + 7)) % 2001 - 1000)))
       |    >= 0 THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS sig FROM e),
       |bands AS (SELECT vec_id, b, (sig >> CAST(4 * b AS INT)) & 15 AS bv
       |          FROM s, range(0, 15) t(b)),
       |p AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
       |      FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv AND a.vec_id < c.vec_id),
       |x AS (SELECT vec_a, vec_b
       |      FROM p JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b
       |      WHERE round(list_dot_product(ea.emb, eb.emb) / (ea.norm * eb.norm), 6) >= 0.3),
       |ed AS (SELECT vec_a AS src, vec_b AS dst FROM x
       |       UNION ALL SELECT vec_b, vec_a FROM x),
       |deg AS (SELECT src AS id, COUNT(*) AS deg FROM ed GROUP BY src),
       |r0 AS (SELECT id, deg, CAST(1000000000000 AS BIGINT) AS rank FROM deg),
       |${iter(1, "r0")},
       |${iter(2, "r1")},
       |${iter(3, "r2")}
       |SELECT id AS vec_id, deg, rank FROM r3 ORDER BY vec_id""".stripMargin
  }

  /** Shared DuckDB replay of the v15/v16 k-means: seeds (vec_id < 8) →
    * two Lloyd iterations (assign → 6-dp mean update, empty cells keep
    * their centroid) → final assignment `af(vec_id, cid, csim)`. The
    * text is CTE bodies only (no WITH), so callers can prepend RECURSIVE. */
  // def, not val: `specs` interpolates this during object init,
  // BEFORE a later-declared val would be assigned (a val here reads null)
  /** v35's replay: v31's IVF cells → top-4 kNN graph → three unrolled
    * beam-4 hops from the min-id entry → top-5 of the visited set with
    * recall vs the exact ground truth. */
  private def beamSql: String = {
    def hop(i: Int) = {
      val p = i - 1
      s"""f$p AS (
         |  SELECT q_id, cid FROM (
         |    SELECT q_id, cid, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY sim DESC, cid) AS rn FROM v$p) WHERE rn <= 4),
         |c$i AS (
         |  SELECT DISTINCT f.q_id, g.dst AS cid
         |  FROM f$p f JOIN g ON g.src = f.cid),
         |s$i AS (
         |  SELECT c.q_id, c.cid,
         |    round(list_dot_product(q.qe, e$i.emb)
         |      / (q.qn * e$i.norm), 6) AS sim
         |  FROM c$i c JOIN e e$i ON e$i.vec_id = c.cid
         |  JOIN q ON q.q_id = c.q_id
         |  WHERE c.cid <> c.q_id),
         |v$i AS (
         |  SELECT DISTINCT q_id, cid, sim FROM (
         |    SELECT * FROM v$p UNION ALL SELECT * FROM s$i))""".stripMargin
    }
    s"""WITH $embSql,
       |nn AS (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS kk FROM e),
       |cents AS (SELECT vec_id AS clabel, emb AS cvec, norm AS cnorm
       |          FROM e, nn WHERE vec_id < kk),
       |cells AS (SELECT vec_id, emb, norm, clabel AS cell FROM (
       |  SELECT e.vec_id, e.emb, e.norm, c.clabel,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(list_dot_product(e.emb, c.cvec)
       |        / (e.norm * c.cnorm), 6) DESC, c.clabel) AS rn
       |  FROM e, cents c) WHERE rn = 1),
       |g AS (SELECT src, dst FROM (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |      round(list_dot_product(a.emb, b.emb)
       |        / (a.norm * b.norm), 6) DESC, b.vec_id) AS rn
       |  FROM cells a JOIN cells b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
       |  WHERE rn <= 4),
       |q AS (SELECT vec_id AS q_id, emb AS qe, norm AS qn FROM e
       |      WHERE vec_id % 100 = 50),
       |ep AS (SELECT MIN(vec_id) AS cid FROM e),
       |v0 AS (
       |  SELECT q.q_id, ep.cid,
       |    round(list_dot_product(q.qe, c.emb) / (q.qn * c.norm), 6) AS sim
       |  FROM q CROSS JOIN ep JOIN e c ON c.vec_id = ep.cid
       |  WHERE ep.cid <> q.q_id),
       |${hop(1)},
       |${hop(2)},
       |${hop(3)},
       |ap AS (
       |  SELECT q_id, cid, sim, rnk FROM (
       |    SELECT q_id, cid, sim, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, cid) AS rnk FROM v3) WHERE rnk <= 5),
       |nv AS (SELECT q_id, COUNT(*) AS n_visited FROM v3 GROUP BY q_id),
       |px AS (
       |  SELECT q.q_id, c.vec_id AS cid,
       |    round(list_dot_product(q.qe, c.emb) / (q.qn * c.norm), 6) AS sim
       |  FROM e c, q WHERE c.vec_id <> q.q_id),
       |ex AS (SELECT q_id, cid FROM (
       |  SELECT q_id, cid, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, cid) AS rnk FROM px) WHERE rnk <= 5),
       |ht AS (
       |  SELECT a.q_id, COUNT(*) AS n_hit
       |  FROM ap a SEMI JOIN ex ON ex.q_id = a.q_id AND ex.cid = a.cid
       |  GROUP BY a.q_id)
       |SELECT a.q_id, a.cid AS top1_id, a.sim AS top1_sim,
       |  CAST(nv.n_visited AS BIGINT) AS n_visited,
       |  CAST(COALESCE(ht.n_hit, 0) AS BIGINT) AS n_hit,
       |  ROUND(CAST(COALESCE(ht.n_hit, 0) AS DOUBLE) / 5.0, 6)
       |    AS recall_at_5
       |FROM ap a JOIN nv ON nv.q_id = a.q_id
       |LEFT JOIN ht ON ht.q_id = a.q_id
       |WHERE a.rnk = 1 ORDER BY a.q_id""".stripMargin
  }

  private def embSql: String =
    """e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS emb,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM embeddings)""".stripMargin

  /** The 2-iteration k-means replay for a given seed count, with every CTE
    * name suffixed so several k arms can share one WITH (and the shared
    * `e` corpus CTE from [[embSql]]). */
  // kExpr is a SQL expression for the seed count — an integer literal or
  // a scalar subquery (v16's data-derived ⌈n/64⌉ twin)
  private def kmeansSqlFrom(kExpr: String, sfx: String): String = {
    def step(i: Int, prev: String) =
      s"""s$i$sfx AS (
         |  SELECT vec_id, cid,
         |    ROUND(list_dot_product(emb, cvec)
         |      / (norm * sqrt(list_dot_product(cvec, cvec))), 6) AS csim
         |  FROM e, $prev),
         |a$i$sfx AS (SELECT vec_id, cid FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY csim DESC, cid) AS rn FROM s$i$sfx) WHERE rn = 1),
         |m$i$sfx AS (SELECT cid, pos, ROUND(AVG(val), 6) AS cv FROM (
         |    SELECT a.cid, unnest(e.emb) AS val,
         |      generate_subscripts(e.emb, 1) AS pos
         |    FROM a$i$sfx a JOIN e ON e.vec_id = a.vec_id) GROUP BY cid, pos),
         |c$i$sfx AS (SELECT p.cid, coalesce(n.nv, p.cvec) AS cvec FROM $prev p
         |    LEFT JOIN (SELECT cid, list(cv ORDER BY pos) AS nv FROM m$i$sfx
         |               GROUP BY cid) n ON p.cid = n.cid)""".stripMargin
    s"""c0$sfx AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id < $kExpr),
       |${step(1, s"c0$sfx")},
       |${step(2, s"c1$sfx")},
       |sf$sfx AS (
       |  SELECT vec_id, cid,
       |    ROUND(list_dot_product(emb, cvec)
       |      / (norm * sqrt(list_dot_product(cvec, cvec))), 6) AS csim
       |  FROM e, c2$sfx),
       |af$sfx AS (SELECT vec_id, cid, csim FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY csim DESC, cid) AS rn FROM sf$sfx) WHERE rn = 1)""".stripMargin
  }

  private def kmeansSql: String = s"$embSql,\n${kmeansSqlFrom("8", "")}"

  /** v16's twin of kmeansCentroidsAdaptive: seeds from k = ceil(n/64.0)
    * (exact dyadic division — both engines agree bit-for-bit). */
  private def kmeansSqlAdaptive: String =
    s"$embSql,\n${kmeansSqlFrom("(SELECT ceil(COUNT(*) / 64.0) FROM e)", "")}"
}
