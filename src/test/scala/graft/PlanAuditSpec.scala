package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Executable form of PLANS.md: the physical-plan properties the engine's
  * 100 TB story rests on, asserted so they cannot silently regress.
  * (Correctness is the DuckDB oracle's job; these pin the PLAN SHAPE.) */
class PlanAuditSpec extends SparkSpec {

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan // force planning
    df.queryExecution.executedPlan.toString
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  /** Shuffle exchanges in the (possibly AQE-staged) plan string; a
    * ReusedExchange deliberately doesn't count — reuse is the point. The
    * AQE toString appends the pre-adaptive "Initial Plan", which would
    * double-count — only the final plan section is measured. */
  private def countShuffles(p: String): Int =
    raw"\bExchange (hash|range)partitioning".r
      .findAllIn(p.split("== Initial Plan ==").head).size

  test("q02: filters and projection reach the parquet scan") {
    val p = planString(q("q02_filter_project"))
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(l_quantity,30.0)"),
      s"range predicate not pushed:\n$p")
    assert(p.contains("FileScan parquet [l_orderkey#"),
      s"no parquet scan found:\n$p")
    // column pruning: untouched lineitem columns never enter the scan
    assert(!p.contains("l_tax") && !p.contains("l_shipdate"),
      s"scan reads more than the 5 referenced columns:\n$p")
  }

  test("q05: top-k plans TakeOrderedAndProject, not a global sort") {
    assert(planString(q("q05_topk_orders")).contains("TakeOrderedAndProject"))
  }

  test("q21: multi-bin interval join is a hash join with residual range, never a nested loop") {
    val p = planString(q("q21_interval_join_multibin"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"range join degenerated to a nested loop:\n$p")
  }

  test("q56: null-safe equality plans as a hash join, never a nested loop") {
    // EqualNullSafe is a legal equi-join key; the OR-of-IS-NULL spelling
    // of the same predicate would fall back to BroadcastNestedLoopJoin
    val p = planString(q("q56_nullsafe_join"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"null-safe join degenerated to a nested loop:\n$p")
  }

  test("q28: bucketed join reads co-located buckets — no shuffle under the join") {
    val df = q("q28_bucketed_join")
    df.collect() // materialize so AQE settles on the final plan
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join still shuffles its inputs — co-location broken:\n$p")
    // only the tiny per-priority aggregate + the oracle-determinism orderBy
    // shuffle; the fact-fact join itself moves nothing
    assert(countShuffles(p) == 2, s"expected agg + sort shuffles only:\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"scan is not bucket-aware:\n$p")
  }

  test("gs02: store time-range scan prunes _date partitions") {
    val p = planString(q("gs02_time_range"))
    assert(p.contains("PartitionFilters: [isnotnull(_date"),
      s"no partition filter on _date — the range query would list every day:\n$p")
  }

  test("as-of join costs exactly one shuffle") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a")).toDF("k", "t", "lv")
    val right = Seq((1L, 5L, "x")).toDF("k", "t", "rv")
    val joined = graft.operators.AsOfJoin.joinAsOf(left, right, "k", "t", "t", Seq("rv"))
    joined.collect() // materialize so AQE finalizes the plan
    val p = joined.queryExecution.executedPlan.toString
    assert(countShuffles(p) == 1, s"as-of join should shuffle once on the key:\n$p")
  }

  test("store files are physically clustered by field (row-group skipping)") {
    // partitionBy's write path inserts its own sort on the partition
    // columns and Catalyst ELIMINATES a user sort that isn't a prefix
    // extension of it — this pins that LongStore.write's clustering
    // actually reaches the written bytes
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-cluster")
    val long = Seq.tabulate(100) { i =>
      (java.sql.Timestamp.valueOf(f"2016-10-07 00:00:${i % 60}%02d"),
        "gas", s"F${i % 5}", i.toDouble)
    }.toDF("_time", "_measurement", "_field", "_value")
    graft.store.LongStore.write(long, work.resolve("store").toString)
    val fields = spark.read
      .parquet(work.resolve("store").toString + "/_date=2016-10-07")
      .select("_field").collect().map(_.getString(0)).toSeq
    val runs = fields.zip(fields.drop(1)).count { case (a, b) => a != b } + 1
    assert(runs == fields.distinct.size,
      s"fields interleave in the written file ($runs runs for " +
        s"${fields.distinct.size} fields) — clustering sort was eliminated")
  }

  test("tx05 signature path adds no fan-out shuffles beyond the audited set") {
    // fanout repartition + ONE signature groupBy(doc_id) + band self-join
    // exchanges (one side reused) + pair groupBy + final orderBy — the old
    // seed-explode layout had an extra groupBy(doc_id, j) stage on 16× rows.
    val df = q("tx05_minhash_pairs")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val shuffles = countShuffles(p)
    assert(shuffles <= 6, s"unexpected extra shuffles ($shuffles):\n$p")
  }

  test("tx18: benchmark gram set broadcasts — corpus grams never shuffle for the probe") {
    val df = q("tx18_decontaminate")
    df.collect() // let AQE settle
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"bench-gram probe is not a broadcast join:\n$p")
    // the corpus side must reach the probe without an exchange: only the
    // fanout repartition, the per-doc rollup, the doc left-join and the
    // final orderBy may shuffle (bench-side distinct shuffles a 5% slice)
    assert(!p.contains("SortMergeJoin"),
      s"gram probe degenerated to a shuffle join:\n$p")
  }

  test("q29: Catalyst decorrelates both scalar subqueries and the EXISTS — no per-row re-execution") {
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    val df = q("q29_correlated_subquery")
    // after optimization no correlated subquery expression survives — both
    // above-average scalars became a per-segment aggregate join and the
    // EXISTS a left-semi join
    val residual = df.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
      case pe: PlanExpression[_] => pe
    }) ++ df.queryExecution.optimizedPlan.collect {
      case n if n.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) => n
    }
    assert(residual.isEmpty, s"correlated subqueries survived optimization:\n$residual")
    val p = planString(df)
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
  }

  test("ts17: the three window passes share ONE series-key shuffle ordering") {
    val df = q("ts17_state_duration")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    // event_type-keyed exchanges: rn, rns and the island window all hash on
    // event_type(+flags); the final orderBy adds one range exchange. The
    // cap asserts no accidental per-window re-shuffle of the raw frame.
    assert(countShuffles(p) <= 4, s"too many shuffles:\n$p")
  }

  test("ts31: M4 downsampling is a pure hash aggregate — no Window, no per-series sort") {
    // M4's scale contract vs LTTB: min/max/first/last per pixel bucket
    // ride ONE partial+final hash aggregate (min_by/max_by carry the
    // (ts, id) order), so the plan must contain no Window operator and no
    // sort below the aggregate; the only sort is the final presentation
    // orderBy. Span lookup joins back by broadcast.
    val df = q("ts31_m4_downsample")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    assert(!p.contains("Window"), s"M4 plan grew a window pass:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"span join not broadcast:\n$p")
    assert(countShuffles(p) <= 3,
      s"more shuffles than span-agg + bucket-agg + presentation sort:\n$p")
  }

  test("runtime bloom filter from a selective dim prunes the fact scan of a shuffle join") {
    // At 100 TB a fact-fact shuffle join whose other side carries a
    // selective predicate should not shuffle the unfiltered fact: Spark's
    // InjectRuntimeFilter builds a bloom filter from the filtered side's
    // join keys and applies it BELOW the fact side's exchange, so
    // non-qualifying rows die before they are hashed, serialized and
    // shuffled. This pins (a) that the engine's session leaves the feature
    // ON, and (b) the plan shape that makes it fire — an equi shuffle join
    // with a selective creation side — so the 100 TB claim can't silently
    // regress. (The size thresholds exist for real clusters; the test
    // lowers only the application-side floor, which merely says "our fact
    // table is big enough to be worth filtering".)
    import org.apache.spark.sql.functions.{col, count, lit}
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = graft.sources.Tables.table(spark, sf, "lineitem")
      val o = graft.sources.Tables.table(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val p = planString(j)
      assert(p.contains("might_contain"),
        s"no bloom filter injected on the fact side:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"join is not a shuffle join — the audit premise broke:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q40: the registered bloom-filter query carries might_contain below the fact exchange") {
    // q40 stages the conf on a child session internally; this audits the
    // REGISTERED query exactly as the driver runs it.
    val p = planString(q("q40_bloom_filter_join"))
    assert(p.contains("might_contain"),
      s"no bloom filter injected on the registered q40:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"q40 is not a shuffle join — the demonstration premise broke:\n$p")
  }

  test("q40's child-session conf does not leak into the parent session") {
    q("q40_bloom_filter_join").queryExecution.executedPlan
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "q40 mutated the shared session's broadcast threshold")
  }

  test("q41: COUNT/MIN/MAX answer from parquet footer statistics, not data pages") {
    val p = planString(q("q41_agg_pushdown"))
    assert(p.contains("PushedAggregation: [COUNT(*)") ||
      p.contains("PushedAggregation: [MIN("),
      s"aggregates not pushed to the parquet scan:\n$p")
  }

  test("q39: dim filter dynamically prunes the partitioned fact scan") {
    // The registered query joins a month-partitioned lineitem store to a
    // filtered dim; the fact scan must carry a dynamicpruningexpression
    // partition filter (fed by the join's own broadcast) so only the
    // qualifying month directories are read — the star-schema scan
    // eliminator the 100 TB story depends on.
    val p = planString(q("q39_dynamic_partition_pruning"))
    assert(p.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning on the fact scan:\n$p")
    assert(p.contains("PartitionFilters"),
      s"fact scan has no partition filters at all:\n$p")
  }

  test("q36: z-order grid prunes more files than either single-dimension sort") {
    import org.apache.spark.sql.functions.{col, input_file_name, lit, max, min}
    // sf0.01: the registered predicate box (users 40-59 × Jan 10-13) is
    // non-empty there; sf0.001 has only 15 users
    val sfd = "/root/testdata/sf0.01"
    val zdir = graft.queries.Relational.zorderedEvents(spark, sfd)
    // Tables.table normalizes the ns-precision ts to TimestampType — the
    // same frame the z-store was written from
    val ev = graft.sources.Tables.table(spark, sfd, "events")
    val work = java.nio.file.Files.createTempDirectory("graft-zaudit")
    graft.util.TempDirs.deleteOnExit(work)
    // the two best single-dimension layouts at the same 64-file budget
    ev.repartitionByRange(64, col("ts"))
      .write.mode("overwrite").parquet(s"$work/byts")
    ev.repartitionByRange(64, col("user_id"), col("ts"))
      .write.mode("overwrite").parquet(s"$work/byuser")
    // a stats catalog's view: per-file min/max boxes vs the predicate box —
    // exactly the pruning decision parquet row-group stats (or a
    // table-format manifest at 100 TB) make at scan time
    def filesHit(path: String): Long =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min(col("user_id")).as("umn"), max(col("user_id")).as("umx"),
          min(col("ts")).as("tmn"), max(col("ts")).as("tmx"))
        .filter(col("umx") >= 40 && col("umn") <= 59 &&
          col("tmx") >= lit("2024-01-10").cast("timestamp") &&
          col("tmn") < lit("2024-01-13").cast("timestamp"))
        .count()
    val zHit = filesHit(zdir)
    val tsHit = filesHit(s"$work/byts")
    val userHit = filesHit(s"$work/byuser")
    info(s"files intersecting the box: zorder=$zHit byts=$tsHit byuser=$userHit")
    // measured: 4 vs 8 vs 9 of 64 — a box predicate on both dimensions
    // touches O(perimeter) z-cells but a full stripe of any sorted layout
    assert(zHit < tsHit, s"z-order ($zHit files) should beat ts-sort ($tsHit)")
    assert(zHit < userHit, s"z-order ($zHit files) should beat user-sort ($userHit)")
    // and the layouts hold identical data (the oracle pins this too)
    assert(spark.read.parquet(zdir).count() === ev.count())
  }

  test("q37: compaction collapses 256 tiny files into 4 right-sized ones") {
    val frag = graft.queries.Relational.fragmentedEventsDir(spark, sf)
    val compact = graft.queries.Relational.compactedEvents(spark, sf)
    def files(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files(frag) == 256, "fragmented store should have 256 files")
    assert(files(compact) <= 4, "compacted store should be <= 4 files")
    assert(spark.read.parquet(compact).count() ===
      spark.read.parquet(frag).count())
  }

  test("ts33: both centered-MA frames share ONE series-key sort; seasonal join broadcasts") {
    val df = q("ts33_decompose")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    // the two offset ROWS frames (−12..11 and −11..12) ride the same
    // (g, h_us) window ordering — a second series-key exchange would mean
    // the raw frame is shuffled per frame
    assert(p.contains("BroadcastHashJoin"), s"seasonal index not broadcast:\n$p")
    // hourly agg + ONE series window (both frames stack on it) + pm agg +
    // mu agg + presentation sort = 5; a 6th would mean the raw frame is
    // re-shuffled per window frame
    assert(countShuffles(p) <= 5,
      s"hourly agg + shared window + 2 seasonal aggs + sort exceeded:\n$p")
  }

  test("v22: the top-5 vote list is the broadcast side — corpus payloads never reshuffle") {
    val df = q("v22_knn_classify")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), s"vote join not broadcast:\n$p")
    // objectHashAggregate pairs for the typed top-k partial/final are
    // expected; what must NOT appear is a sort-merge join on c_id
    assert(!p.contains("SortMergeJoin"), s"vote join degraded to SMJ:\n$p")
  }

  test("q42: the merged read covers both generations and prunes through the partition column") {
    val df = q("q42_schema_evolution")
    val rows = df.collect()
    assert(rows.map(_.getInt(0)).toSet == Set(1, 2),
      "both generations must survive the merged read")
    // a gen-filtered read must prune to one generation's files
    val one = SparkEntry.queries("q42_schema_evolution")(spark, sf)
      .filter(col("gen") === 1)
    val p = planString(one)
    assert(p.contains("PartitionFilters: [isnotnull(gen"),
      s"gen partition filter not pushed:\n$p")
  }

  test("q48: the LATERAL top-n is decorrelated into a rank window, never a per-row re-execution") {
    val p = planString(q("q48_lateral_topn"))
    // decorrelation turns the correlated ORDER BY/LIMIT into a window
    // rank over the correlation key plus ONE equi-join — a nested-loop
    // plan here would re-run the subquery per customer
    assert(p.contains("Window") && p.contains("row_number"),
      s"no rank window — the lateral subquery was not decorrelated:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"lateral join planned as a nested loop:\n$p")
  }

  test("q49: NOT IN plans the null-aware anti join, and the filter pushes to the scan") {
    val p = planString(q("q49_null_aware_anti"))
    // Spark's dedicated null-aware variant (three-valued NOT IN), not a
    // plain left-anti: BroadcastHashJoinExec renders its
    // isNullAwareAntiJoin flag as the trailing `true`
    assert(raw"BroadcastHashJoin .*LeftAnti, BuildRight, true".r
        .findFirstIn(p).isDefined,
      s"NOT IN did not plan the null-aware anti join:\n$p")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(l_quantity,45.0)"),
      s"subquery predicate not pushed to the lineitem scan:\n$p")
  }

  test("q50: the SQL UDF is inlined into codegen — no interpreted function-call node") {
    val p = planString(q("q50_sql_udf"))
    // the analyzer macro-expands the body; the physical plan must show
    // the raw arithmetic, not a UDF invocation
    assert(!p.contains("graft_disc_price"),
      s"SQL UDF survived to the physical plan as a call node:\n$p")
    // the body's raw arithmetic must appear inside the aggregate — proof
    // the analyzer expanded the call (an un-finalized AQE plan string
    // doesn't render WholeStageCodegen markers, so assert the expansion)
    assert(p.contains("* (1.0 - "),
      s"UDF body not macro-expanded into the aggregate:\n$p")
  }

  test("nearest as-of: both window passes share ONE key exchange (the operator's headline claim)") {
    import org.apache.spark.sql.functions.col
    val left = spark.range(100)
      .selectExpr("id % 5 AS k", "id * 7 AS t", "id AS lid")
    val right = spark.range(40)
      .selectExpr("id % 5 AS k", "id * 11 AS t", "id AS rid")
    val df = graft.operators.AsOfJoin
      .joinAsOfNearest(left, right, "k", "t", "t", Seq("rid"))
    val p = planString(df).split("== Initial Plan ==").head
    // exactly one hashpartitioning exchange on the key feeds BOTH the
    // ascending and descending window sorts — a second exchange would mean
    // the operator reshuffles between passes and the 100 TB story is wrong
    assert(countShuffles(p) == 1,
      s"expected exactly 1 shuffle (asc+desc windows over one exchange):\n$p")
    assert(raw"Sort \[".r.findAllIn(p).size >= 2,
      s"expected two in-partition sorts (asc + desc):\n$p")
  }

  test("q54: the SHUFFLE_MERGE hint overrides the auto-broadcast choice — and only the plan changes") {
    val hinted = q("q54_join_hints")
    hinted.collect()
    val ph = planString(hinted).split("== Initial Plan ==").head
    assert(ph.contains("SortMergeJoin"),
      s"hint ignored — expected a sort-merge join:\n$ph")
    assert(!ph.contains("BroadcastHashJoin"),
      s"hinted plan still broadcasts:\n$ph")
    // the unhinted twin broadcasts the small customer side (proving the
    // hint is what flipped the strategy, not table sizes)
    val plain = spark.sql(
      """SELECT c.c_mktsegment, COUNT(*) AS n_orders
        |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment""".stripMargin)
    plain.collect()
    assert(planString(plain).contains("BroadcastHashJoin"),
      s"unhinted twin did not broadcast:\n${planString(plain)}")
  }

  test("tx35: containment pair generation is shingle-keyed hash joins, never a cartesian") {
    val p = planString(q("tx35_containment_dedup"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment degenerated to an all-pairs join:\n$p")
  }

  test("q52: the UNPIVOT clause's shipdate filter pushes through Expand to the parquet scan") {
    val p = planString(q("q52_sql_unpivot"))
    assert(p.contains("Expand"), s"UNPIVOT did not plan an Expand:\n$p")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed to the scan:\n$p")
  }

  test("ts42: the events scan runs ONCE — the compressed frame is materialized, not re-derived") {
    // the compressed (type, day, bin) frame feeds three branches whose
    // differing column pruning defeats ReuseExchange; without the eager
    // localCheckpoint the raw scan ran THREE times (observed in round 9).
    // After materialization the FINAL plan must contain no parquet scan
    // at all — every branch reads the checkpointed tiny frame; the one
    // real scan lives in the checkpoint job.
    val df = q("ts42_psi_drift")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    assert(!p.contains("FileScan parquet"),
      s"final plan still scans parquet — frame materialization is gone:\n$p")
    assert(p.contains("ExistingRDD"),
      s"expected the checkpointed frame scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"PSI planned a cartesian:\n$p")
  }

  test("ts44: single events scan and zero joins — the min-offset formulation") {
    // the naive shape referenced the distinct user-day frame three times
    // (3 full scans, no reuse); carrying MIN(fan-out offset) per
    // (user, window) collapses the day frame, the 1-day count and the
    // 7-day count into one pipeline: one scan, two shuffles, no joins.
    val df = q("ts44_rolling_distinct")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one events scan:\n$p")
    assert(!p.contains("Join"), s"expected a join-free plan:\n$p")
  }

  test("tx39: one documents scan, no fold in the scan's DataFilters, 3 shuffles") {
    // plain explode adds an implicit size(chunks) > 0 filter that gets
    // pushed into the scan WITH the whole md5-fold expression inlined —
    // the chunker ran twice per document (observed: 6.3 s → 1.6 s at
    // sf0.1 after switching to explode_outer). The scan must stay
    // filter-free so the fold runs exactly once.
    val p = planString(q("tx39_cdc_chunk_dedup"))
    val head = p.split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(head).size == 1,
      s"expected exactly one documents scan:\n$head")
    assert(!head.contains("DataFilters: [(size(aggregate")
      && !head.contains("PushedFilters: [IsNotNull(text"),
      s"the chunk fold leaked into the scan filters:\n$head")
    // distinct-agg two-phase (chunk_hash,doc_id → chunk_hash) + sort
    assert(countShuffles(p) == 3, s"unexpected shuffle count:\n$head")
  }

  test("ts50: one events scan — the ±1 sweep derives from ONE sessionize pass") {
    // a unionAll of two projections of the segment frame defeated reuse
    // (branches differ in s-vs-e) and ran the sessionize subtree twice;
    // the inline 2-element explode keeps one subtree. Shuffles: user_id
    // (sessionize) + day (sweep window, reused by the day aggregate) +
    // the determinism sort.
    val p = planString(q("ts50_interval_coverage"))
    val head = p.split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(head).size == 1,
      s"expected exactly one events scan:\n$head")
    assert(countShuffles(p) == 3, s"expected user_id + day + sort only:\n$head")
  }

  test("v28: the oriented edge list materializes once — no LSH re-derivation") {
    // oe feeds three consumers (two wedge sides + the closure semi-join);
    // without the barrier Catalyst re-planned the whole LSH candidate
    // pipeline per consumer — 60 FileScans and 33 shuffles (observed).
    // After the localCheckpoint the final plan reads the checkpointed
    // frame only: zero parquet scans, join fan bounded.
    val df = q("v28_graph_triangles")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    assert(!p.contains("FileScan parquet"),
      s"final plan re-derives the edge list from parquet:\n$p")
    assert(p.contains("ExistingRDD"),
      s"expected the checkpointed oriented-edge frame:\n$p")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle join degenerated:\n$p")
  }

  test("v16/v29: the assignment frame materializes once — no kmeans/assign re-derivation") {
    // af feeds three consumers (both pair sides + the final output);
    // pre-checkpoint, each re-derived the whole centroid + O(n·k)
    // assign pipeline (measured: v16 10.2 s → 6.6 s at sf0.1). The
    // final plan must read the checkpointed frame, never parquet.
    for (name <- Seq("v16_semantic_dedup", "v29_semdedup_2level")) {
      val df = q(name)
      df.collect()
      val p = planString(df).split("== Initial Plan ==").head
      assert(!p.contains("FileScan parquet"),
        s"$name final plan re-derives the assignment from parquet:\n$p")
      assert(p.contains("ExistingRDD"),
        s"$name: expected the checkpointed assignment frame:\n$p")
    }
  }

  test("v34: queries broadcast, candidate grain aggregates map-side — " +
    "no candidate-grain shuffle") {
    val df = q("v34_mips_norm_bands")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    // both corpus passes join the broadcast query set (the cross join of
    // a broadcast 1-row/5-row frame plans as BroadcastNestedLoopJoin —
    // fine HERE because the small side is the broadcast, never the corpus)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set is not broadcast:\n$p")
    // the only hash exchanges are on (q_id)/(q_id, band) AFTER partial
    // aggregation — the candidate grain (|q|×|corpus| rows) never shuffles
    val shuffles = countShuffles(p)
    assert(shuffles <= 4, s"expected ≤4 post-aggregate exchanges, got $shuffles:\n$p")
    assert(p.contains("partial_graft_topk") || p.contains("ObjectHashAggregate"),
      s"top-k partial aggregate missing — candidates would shuffle raw:\n$p")
  }

  test("q60: cogroup merge plans CoGroup with per-side sort — no Window, " +
    "no per-group materialization") {
    val df = q("q60_typed_cogroup")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("CoGroup"), s"expected a CoGroup physical node:\n$p")
    // the secondary sort is sortWithinPartitions under the cogroup, never
    // a window (a window would buffer whole groups)
    assert(!p.contains("Window"), s"cogroup must not plan a window:\n$p")
    // one hash exchange per side + the presentation range sort
    val shuffles = countShuffles(p)
    assert(shuffles <= 3, s"expected ≤3 exchanges (2 sides + order), " +
      s"got $shuffles:\n$p")
  }

  test("v37: probes and queries broadcast; the only non-broadcast join " +
    "grain is cell-bounded") {
    val df = q("v37_delta_index_merge")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"probe/query frames are not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a non-broadcast cartesian appeared — the corpus would pair-blow:\n$p")
  }

  test("tx43: the corpus-wide top-15 plans TakeOrderedAndProject, and word " +
    "scores broadcast back") {
    val df = q("tx43_rake_keywords")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("TakeOrderedAndProject"),
      s"phrase top-15 fell back to a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"vocabulary scores are not broadcast:\n$p")
  }

  test("ts60: the Mann–Kendall pair stage is an equi-join on the series " +
    "key, never a cartesian") {
    val df = q("ts60_mann_kendall")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"pair join is not keyed on g:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair stage degenerated to a cross product over ALL series:\n$p")
  }

  test("ts61: RSI costs the hourly agg + one window sort + the " +
    "presentation sort — no self-join, no extra exchange") {
    val df = q("ts61_rsi")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"RSI must not plan a join:\n$p")
    val shuffles = countShuffles(p)
    assert(shuffles <= 3, s"expected ≤3 exchanges (agg, window, order), " +
      s"got $shuffles:\n$p")
  }

  test("tx45/q66/mm21/mm22: per-row galleries stay map-side — the only " +
    "exchange is the presentation sort") {
    for (name <- Seq("tx45_readability", "q66_xml_extract",
        "mm21_hist_equalization", "mm22_dominant_colors")) {
      val df = q(name)
      df.collect()
      val p = planString(df).split("== Initial Plan ==").head
      assert(countShuffles(p) <= 1,
        s"$name: expected only the presentation sort exchange:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian:\n$p")
    }
  }

  test("v39: balance stats broadcast onto the cell directory — no " +
    "directory-sized shuffle joins") {
    val df = q("v39_ivf_balance")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"),
      s"one-row stat frames must broadcast, not cartesian:\n$p")
  }

  test("q70: SQL table function body is inlined — same shuffle count as " +
    "the hand-written join") {
    val f = q("q70_sql_table_udf") // registers the view + function
    f.collect()
    val pf = planString(f).split("== Initial Plan ==").head
    val inlined = spark.sql(
      """SELECT r.rk, n_nationkey, n_name
        |FROM (SELECT explode(sequence(0L, 4L)) AS rk) r
        |JOIN nation ON n_regionkey = rk
        |ORDER BY rk, n_nationkey""".stripMargin)
    inlined.collect()
    val pi = planString(inlined).split("== Initial Plan ==").head
    assert(countShuffles(pf) == countShuffles(pi),
      s"UDTF invocation plans extra exchanges vs the inlined join:\n$pf\n--\n$pi")
    assert(!pf.contains("CartesianProduct"), s"UDTF lateral planned a cartesian:\n$pf")
  }

  test("q72: keyset page plans top-k (TakeOrderedAndProject), never a " +
    "global sort") {
    val df = q("q72_keyset_pagination")
    df.collect()
    val p = planString(df).split("== Initial Plan ==").head
    assert(p.contains("TakeOrderedAndProject"),
      s"expected top-k for boundary/page fetch:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"keyset pagination must never globally sort the table:\n$p")
  }

  test("broadcast-threshold fallback: growing-dim joins switch to shuffle joins, results unchanged") {
    // At 100 TB dims don't broadcast. q03/q04 hint-pin only the
    // fixed-cardinality dims (nation 25 / region 5 rows) and leave the
    // GROWING customer dim to Catalyst/AQE statistics — this audit runs
    // the regime where the threshold is exceeded (emulated exactly:
    // size-based broadcast disabled on both the static and adaptive
    // thresholds) and pins (a) the growing-dim join becomes a shuffle
    // join, never a BroadcastNestedLoopJoin, and (b) the RESULTS are
    // bit-identical across the strategy switch. q39's broadcast hint on a
    // bounded DISTINCT month list legitimately survives — a hint outranks
    // the threshold, which is why hints are reserved for frames that
    // CANNOT grow. The 128x QLADDER rung measures this same switch
    // happening naturally (32 MB customer / 25 MB part parquet).
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    val shuffled = Seq("q03_join_multiway", "q04_segment_month_revenue",
      "q54_join_hints")
    val baseline = (shuffled :+ "q39_dynamic_partition_pruning")
      .map(n => n -> q(n).collect().toSeq).toMap
    try {
      keys.foreach(conf.set(_, "-1"))
      shuffled.foreach { n =>
        val df = q(n)
        val p = planString(df)
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"$n: no shuffle join in the no-broadcast regime:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"),
          s"$n degenerated to a nested loop without broadcasts:\n$p")
        assert(df.collect().toSeq == baseline(n),
          s"$n: result changed under the shuffle-join regime")
      }
      val dpp = q("q39_dynamic_partition_pruning")
      val pd = planString(dpp)
      assert(pd.contains("BroadcastHashJoin"),
        s"q39: the bounded month-list hint should survive the regime:\n$pd")
      assert(dpp.collect().toSeq == baseline("q39_dynamic_partition_pruning"),
        "q39: result changed under the no-broadcast regime")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
