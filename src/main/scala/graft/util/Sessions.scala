package graft.util

import org.apache.spark.sql.SparkSession

/** The one session factory: every main and the test suite get their
  * SparkSession here, and only here is `SPARK_GRAFT_CPUS` read.
  *
  * The pipeline session (GasPipeline and the test suite) is
  * exactly `local[cpus]`, `shuffle.partitions = cpus`, UTC and no UI:
  * perfbench copies these four settings of the `GasPipeline` CLI into its
  * own session, so they must not change. The query session (Verify, Bench,
  * HashQuery, Explain, ConcurrencyStress, CascadeTune) adds the
  * size-derived AQE `initialPartitionNum` and
  * [[graft.functions.GraftExtensions]], so the oracle dump, the bench and
  * the checksum probe run one configuration. `SPARK_GRAFT_CONF`
  * (';'-separated k=v pairs) is applied last in both.
  */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the caller's `fallback`. */
  def cpus(fallback: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(fallback)(_.toInt)

  def pipeline(cpus: Int): SparkSession.Builder = builder(settings(cpus, None))

  def query(sfDir: String, cpus: Int): SparkSession.Builder =
    builder(settings(cpus, Some(sfDir)))

  /** Start `builder`'s session at log level WARN, run `body` on it, and
    * stop it whatever `body` does: the whole life of a main's session. */
  def run[T](builder: SparkSession.Builder)(body: SparkSession => T): T = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark) finally spark.stop()
  }

  /** The settings of the pipeline session, or with `sfDir` of the query
    * session, as a plain map. What the round-13 128× experiments established
    * (SWEEP13.json, PLANS.md "shuffle-layer regime"):
    *
    *  - `initialPartitionNum` derives from input size (~1 MB source parquet
    *    per initial partition, floor cpus, cap 2048). Measured ALONE it is
    *    non-binding — AQE's coalescing collapses any initial count back to
    *    its target size — but it is the necessary ceiling-lifter
    *    (coalescing can merge, never split), it is free (small stages
    *    coalesce to parallelism), and results are checksum-identical to
    *    the fixed-cpus regime (HashQuery A/B, 4 probes). It is the ONLY
    *    knob set as default policy here.
    *  - `advisoryPartitionSizeInBytes` (64 m default) counts COMPRESSED
    *    shuffle bytes; v09's ~8×-compressible pair stream therefore
    *    rebuilt ~500 MB in-memory reduce partitions whatever the initial
    *    count. 16 m halved v09's spill (21 → 10.5 GB; the remainder is
    *    map-side shuffle-WRITE sort, invariant to reduce count) — but the
    *    SAME setting tripled q38's blocked levenshtein join (299 → 1,000 s
    *    both passes). Workload-dependent ⇒ NOT default; apply per
    *    experiment via SPARK_GRAFT_CONF.
    *  - `objectHashAggregate.sortBased.fallbackThreshold` (128 default)
    *    turns any typed-Aggregator aggregate seeing >128 groups into a
    *    SORT of its entire input. For the vector family's k-BOUNDED
    *    TopKAggregator buffers that sort is pure waste — raising it
    *    eliminated v12/v17/v32/v33's 5.5–14 GB spills and cut v17 36% —
    *    but q38's unbounded block-collect buffers NEED the conservative
    *    default (raised, it ran >2× slower). Scoped per-query instead:
    *    the bounded-buffer queries set it on a child session in their own
    *    builders (`VectorOps.withHashAggBudget`), where the bound is a
    *    structural property of the aggregator, not a bench guess.
    *  - `canChangeCachedPlanOutputPartitioning` was tested and rejected
    *    (r17): letting AQE coalesce inside cached plans regressed both
    *    probes (v10 4.06 vs 3.61 s, v16 5.26 vs 4.44 s, best-of-3,
    *    sf0.1/32c) — the coalesced cache materialization loses more
    *    parallelism than the task churn costs.
    *
    * A PER-FAMILY override (fixed-cpus for the relational family) was
    * tested and rejected in round 16 (SWEEP16, 128× and 512×): too many
    * initial partitions costs ~13% scheduling overhead, too few is a cliff
    * (q38 2.8× slower at 512×), so every family keeps the size-derived
    * ceiling.
    *
    * At sf0.1 and below the derivation floors to `cpus`, which is Spark's
    * own default (`shuffle.partitions`). The fixed-cpus A/B arm is
    * `SPARK_GRAFT_CONF=spark.sql.adaptive.coalescePartitions.initialPartitionNum=<cpus>`.
    * AQE and its coalescing are Spark defaults and are not set here. The
    * extensions make the determinism lint see every analysis, including
    * plans built and executed inside a query builder (streaming
    * micro-batches, training-loop side actions). */
  def settings(cpus: Int, sfDir: Option[String],
      conf: Option[String] = sys.env.get("SPARK_GRAFT_CONF")): Map[String, String] =
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"
    ) ++ sfDir.toSeq.flatMap(dir => Seq(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        initialPartitions(dir, cpus).toString,
      "spark.sql.extensions" -> classOf[graft.functions.GraftExtensions].getName)
    ) ++ parseConf(conf)

  /** The size-derived AQE initial partition count: ~1 MB of top-level
    * `*.parquet` in `sfDir` per partition, floor `cpus`, cap 2048. */
  def initialPartitions(sfDir: String, cpus: Int): Int = {
    val bytes = Option(new java.io.File(sfDir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum
    math.max(cpus, math.min(2048L, bytes >> 20).toInt)
  }

  /** `k=v;k=v` pairs in order; a value may contain '='; empty or
    * key-less pairs are skipped. */
  def parseConf(conf: Option[String]): Seq[(String, String)] =
    conf.toSeq.flatMap(_.split(';')).map(_.split("=", 2)).collect {
      case Array(k, v) if k.nonEmpty => k -> v
    }

  private def builder(settings: Map[String, String]): SparkSession.Builder =
    settings.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
}
