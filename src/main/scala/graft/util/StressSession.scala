package graft.util

import org.apache.spark.sql.SparkSession

/** Shared session regime for the measurement mains (Bench / Explain /
  * HashQuery): one place for the SIZE-DERIVED shuffle regime so the
  * measured cost, the recorded plan shape and the result-identity probe
  * all execute the same configuration.
  *
  * What the round-13 128× experiments established (SWEEP13.json,
  * PLANS.md "shuffle-layer regime"):
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
  *
  * A PER-FAMILY override (fixed-cpus for the relational family) was
  * tested and rejected in round 16 (SWEEP16, 128× and 512×): too many
  * initial partitions costs ~13% scheduling overhead, too few is a cliff
  * (q38 2.8× slower at 512×), so every family keeps the size-derived
  * ceiling.
  *
  * At sf0.1 and below the derivation floors to `cpus` — the graded bench
  * regime is byte-identical to rounds ≤12. SPARK_GRAFT_CONF
  * (';'-separated k=v pairs, applied last) overrides anything for
  * experiments; SPARK_GRAFT_INITIAL_PARTITIONS=0 restores the legacy
  * fixed-cpus regime (the A/B lever).
  */
object StressSession {

  /** Input bytes = sum of top-level *.parquet file sizes in `sfDir`. */
  def inputBytes(sfDir: String): Long = {
    val dir = new java.io.File(sfDir)
    Option(dir.listFiles())
      .map(_.filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.length).sum)
      .getOrElse(0L)
  }

  /** The size-derived AQE initial partition count (env-overridable;
    * 0 = legacy fixed-cpus regime). */
  def initialPartitions(sfDir: String, cpus: Int): Int =
    sys.env.get("SPARK_GRAFT_INITIAL_PARTITIONS").map(_.toInt).getOrElse {
      math.max(cpus, math.min(2048L, inputBytes(sfDir) >> 20).toInt)
    }

  /** Builder with the regime applied; callers add their own confs before
    * getOrCreate() if needed. */
  def builder(sfDir: String, cpus: String): SparkSession.Builder = {
    val initial = initialPartitions(sfDir, cpus.toInt)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        if (initial > 0) initial.toString else cpus)
      // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning was
      // TESTED AND REJECTED here (r17): letting AQE coalesce inside
      // cached plans looked right for the CC/PageRank edge caches (the
      // v10 event-log showed 192/384-task union stages of ~4 ms tasks),
      // but the measured A/B regressed BOTH probes — v10 4.06 vs 3.61 s,
      // v16 5.26 vs 4.44 s (best-of-3, sf0.1/32c) — the coalesced cache
      // materialization loses more parallelism than the task churn
      // costs. The union fan-out itself was fixed at the source instead
      // (lshCandidates' multiProbe explode).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => b.config(k, v)
        case _ => ()
      }
    })
    b
  }
}
