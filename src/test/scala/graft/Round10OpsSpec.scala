package graft

import org.apache.spark.sql.functions._

/** Kernel semantics for the round-10 additions — tx39 content-defined
  * chunking, ts49 SAX symbolization, v28 triangle counting — pinned on
  * handcrafted fixtures (the sf oracles verify engine-vs-DuckDB; these
  * verify the MATH). */
class Round10OpsSpec extends SparkSpec {

  /** tx39's cutter on a one-column text frame → (doc_id, chunk) rows —
    * the same single-fold expression as the registered query. */
  private def cdcChunks(df: org.apache.spark.sql.DataFrame) = df
    .selectExpr("doc_id",
      """aggregate(
           sequence(8, greatest(length(text), 8)),
           named_struct('p', 0L, 'cs', cast(array() as array<string>)),
           (acc, i) -> if(i < length(text) AND
               cast(conv(substr(md5(cast(substring(text, cast(i - 7 as int), 8) as binary)), 1, 2), 16, 10) as bigint) % 32 = 0,
             named_struct('p', i,
               'cs', concat(acc.cs, array(substring(text, cast(acc.p + 1 as int), cast(i - acc.p as int))))),
             acc),
           acc -> concat(acc.cs, array(substring(text, cast(acc.p + 1 as int), cast(length(text) - acc.p as int))))) AS chunks""")
    .select(col("doc_id"), posexplode(col("chunks")).as(Seq("pos", "chunk")))

  test("tx39 cutter: chunks reassemble to the original text, short texts uncut") {
    import spark.implicits._
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then runs far away " * 4),
      (2L, "tiny"), // < 8 chars: no boundary positions at all
      (3L, ""), // empty: one empty chunk (the inventory's len filter drops it)
      (4L, "exactly8")) // == 8 chars: lone window is i == length, never cut
      .toDF("doc_id", "text")
    val got = cdcChunks(texts)
      .groupBy("doc_id").agg(concat_ws("", collect_list("chunk")).as("re"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = texts.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every doc must round-trip byte-identically
    assert(got == want)
  }

  test("tx39 cutter: an insertion shifts only the chunk it lands in") {
    import spark.implicits._
    val base = "a quick brown fox jumps over the lazy dog while the cat sleeps " +
      "in the warm sun near the old barn door and birds sing from tall trees " +
      "as the river flows gently past the quiet village in the early morning"
    val edited = base.substring(0, 5) + "X" + base.substring(5)
    val chunks = cdcChunks(Seq((1L, base), (2L, edited)).toDF("doc_id", "text"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(2)).toSeq).toMap
    val shared = chunks(1L).intersect(chunks(2L))
    // the defining CDC property: all chunks after the edited one re-sync
    // (tx24's fixed-width chunking would share ~nothing here)
    assert(chunks(1L).size >= 3,
      s"fixture too short to be meaningful: ${chunks(1L)}")
    assert(shared.size >= chunks(1L).size - 1,
      s"expected at most one divergent chunk, got base=${chunks(1L)} edited=${chunks(2L)}")
  }

  test("tx40 over sf0.001: containment bounds and pair ordering") {
    val rows = SparkEntry.queries("tx40_cross_source_dup")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("source_a") < r.getAs[String]("source_b"))
      val shared = r.getAs[Long]("n_shared")
      val mn = math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(shared >= 1L && shared <= mn)
      assert(r.getAs[Double]("containment") == shared.toDouble / mn)
    }
  }

  test("ts49 symbolization: fixed breakpoints clamp and bin correctly") {
    val got = spark.sql(
      """SELECT collect_list(substr('abcd',
        |  cast(greatest(least(floor(hm / 16.0), 3.0), 0.0) as int) + 1, 1)) AS s
        |FROM VALUES (-5.0), (0.0), (15.999999), (16.0), (47.9), (48.0), (999.0) AS t(hm)
        |""".stripMargin).head.getSeq[String](0)
    assert(got == Seq("a", "a", "a", "b", "c", "d", "d"))
  }

  test("ts49 over sf0.001: motif shape invariants") {
    val rows = SparkEntry.queries("ts49_sax_motifs")(spark, sf).collect()
    assert(rows.nonEmpty)
    // words are 3 chars over the a-d alphabet; ranks dense from 1, <= 3
    assert(rows.forall(r => r.getAs[String]("word").matches("[a-d]{3}")))
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    byType.values.foreach { rs =>
      val ranked = rs.sortBy(_.getAs[Long]("rnk"))
      assert(ranked.map(_.getAs[Long]("rnk")).toSeq == (1L to ranked.size).toSeq)
      // counts are non-increasing down the ranking
      val ns = ranked.map(_.getAs[Long]("n")).toSeq
      assert(ns == ns.sorted.reverse)
    }
  }

  test("gs25 over the gas fixture: sealed-window bigram words, dense ranks") {
    val rows = SparkEntry.queries("gs25_stream_sax_words")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[String]("word").matches("[a-d]{2}")))
    rows.groupBy(_.getAs[String]("_field")).values.foreach { rs =>
      val ranks = rs.map(_.getAs[Long]("rnk")).sorted.toSeq
      assert(ranks == (1L to ranks.size).toSeq)
    }
  }

  test("v28 kernel: K4 has 4 triangles (each vertex in 3), path has none") {
    import spark.implicits._
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
      .toDF("a", "b")
    val gotK4 = graft.operators.Triangles.perVertexCounts(k4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotK4 == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))

    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("a", "b")
    assert(graft.operators.Triangles.perVertexCounts(path).count() == 0)
  }

  test("ts50 sweep kernel: union length, peak concurrency, zero-length sessions") {
    import spark.implicits._
    // [10,30] ∪ [20,40] ∪ [50,60] ∪ [70,70] → covered 30+10+0 = 40, peak 2;
    // the zero-length session still registers concurrency 1 (starts sort
    // before ends at the same instant)
    val seg = Seq((0L, 10L, 30L, 1L), (0L, 20L, 40L, 2L),
      (0L, 50L, 60L, 3L), (0L, 70L, 70L, 4L))
      .toDF("day", "s", "e", "user_id")
    val sweep = seg.select($"day", $"s".as("us"), lit(1L).as("delta"), $"user_id")
      .unionAll(seg.select($"day", $"e".as("us"), lit(-1L).as("delta"), $"user_id"))
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy($"day").orderBy($"us", $"delta".desc, $"user_id")
    val got = sweep
      .withColumn("cum", sum($"delta").over(ws.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("nxt", lead($"us", 1).over(ws))
      .groupBy($"day")
      .agg(sum(when($"cum" > 0, coalesce($"nxt", $"us") - $"us")
          .otherwise(0L)).as("covered"),
        max($"cum").as("mx"))
      .head
    assert(got.getLong(1) == 40L && got.getLong(2) == 2L)
  }

  test("ts50 over sf0.001: coverage invariants") {
    val rows = SparkEntry.queries("ts50_interval_coverage")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val covered = r.getAs[Long]("covered_us")
      assert(covered >= 0L && covered <= 86400000000L)
      assert(r.getAs[Long]("max_conc") <= r.getAs[Long]("n_sessions"))
      assert(r.getAs[Double]("coverage") == covered.toDouble / 86400000000.0)
    }
  }

  test("v29 over sf0.001: total function, canonical invariants, v16 schema parity") {
    val v29 = SparkEntry.queries("v29_semdedup_2level")(spark, sf).collect()
    val n = graft.sources.Tables.table(spark, sf, "embeddings").count()
    // the two-level assign is TOTAL: every vector gets a row (a coarse
    // cell can never be empty of fine seeds — each coarse seed IS one)
    assert(v29.length == n)
    val byId = v29.map(r => r.getAs[Long]("vec_id") -> r).toMap
    v29.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val canon = r.getAs[Long]("canonical_id")
      // min-label canonicalization: the representative is the smallest
      // member, and the representative itself is kept
      assert(canon <= id)
      assert(r.getAs[Boolean]("is_kept") == (canon == id))
      assert(byId(canon).getAs[Boolean]("is_kept"))
    }
    // directly comparable to v16: same schema
    val v16cols = SparkEntry.queries("v16_semantic_dedup")(spark, sf).columns
    assert(v29.head.schema.fieldNames.sameElements(v16cols))
  }

  test("v30 kernel: K4 + pendant chain peels to exactly the K4 3-core") {
    import spark.implicits._
    // K4 on 0-3 plus a chain 3-4-5: peeling at k=3 strips the chain
    // (4 and 5 never reach degree 3), leaving K4 with core degree 3
    val g = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = graft.operators.KCore.core(g, k = 3, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("v30 over sf0.001: fixed 6 rounds are past convergence (round 5 == round 6)") {
    val e = SparkEntry.queries("v30_kcore")(spark, sf).collect()
    // re-run the peel at 5 and 7 rounds on the same edges: all equal ⇒
    // 6 is past the fixture's convergence depth (and no-op-stable)
    val edges = {
      // the same candidate edges the query uses, via the public surface:
      // v28 shares them — rebuild from the registered v28's input shape
      // is private, so peel the kernel directly over v03's scored pairs
      SparkEntry.queries("v03_ann_lsh")(spark, sf)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
    }
    val r5 = graft.operators.KCore.core(edges, 3, 5).collect().toSet
    val r7 = graft.operators.KCore.core(edges, 3, 7).collect().toSet
    assert(r5.map(r => (r.getLong(0), r.getLong(1)))
      == r7.map(r => (r.getLong(0), r.getLong(1))))
    assert(e.nonEmpty)
  }

  test("v28 kernel: hub-and-spoke plus one closing edge counts exactly once") {
    import spark.implicits._
    // star center 9 with leaves 1..5, plus edge (1,2): exactly one
    // triangle (9,1,2) — and the hub (highest degree) never centers a
    // wedge, so the count survives the skew by construction
    val star = ((1L to 5L).map(l => (l, 9L)) :+ (1L, 2L)).toDF("a", "b")
    val got = graft.operators.Triangles.perVertexCounts(star)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 9L -> 1L))
  }

  /** Synthetic events table with closed-form R/S and VR answers: one point
    * per hour so the hourly mean IS the value — "alt" alternates 9/11
    * (perfectly anti-persistent), "ramp" climbs 1,2,3,… (pure trend). */
  private lazy val hurstFixtureDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hurst-fixture")
    graft.util.TempDirs.deleteOnExit(dir)
    val rows = (0 until 128).flatMap { i =>
      val ts = java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(i))
      Seq(
        (i.toLong * 2, ts, 1L, "alt", if (i % 2 == 0) 9.0 else 11.0, "{}"),
        (i.toLong * 2 + 1, ts, 1L, "ramp", (i + 1).toDouble, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir.toString
  }

  test("ts54 kernel: alternating series has R/S = 1 at every size; " +
    "a pure ramp matches the closed form and doubles per rung") {
    val got = SparkEntry.queries("ts54_hurst_rs")(spark, hurstFixtureDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(3), if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      .toMap
    for (n <- Seq(16L, 32L, 64L)) {
      // alt: deviations ±1 → cumdev range 1, population std 1 → R/S ≡ 1
      assert(got(("alt", n))._1 == 1.0, s"alt n=$n: ${got(("alt", n))}")
      // ramp: R = n²/8 (cumdev parabola), S = √((n²−1)/12) (std of 1..n)
      val expected = BigDecimal((n * n / 8.0) / math.sqrt((n * n - 1) / 12.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(("ramp", n))._1 - expected) < 1e-9,
        s"ramp n=$n: got ${got(("ramp", n))._1}, want $expected")
    }
    // trend growth per size-doubling → 2 (H = 1); exact limit is
    // 2·√((4n²−1)/(4(n²−1)))⁻¹-ish — just pin the asymptote loosely
    val g = got(("ramp", 64L))._2.get
    assert(g > 1.95 && g < 2.05, s"ramp growth_vs_half=$g")
    assert(got(("alt", 64L))._2.contains(1.0))
  }

  test("mm19 kernel: trim bounds, kept energy, and the all-quiet convention") {
    import spark.implicits._
    import graft.multimodal.{MediaCodecs, Multimodal}
    // |s| < 8192 is quiet: lead = [0, 100], loud span = [9000, -20000],
    // tail = [50, 8191]
    val wavA = MediaCodecs.Wav.write(16000,
      Array[Short](0, 100, 9000, -20000, 50, 8191), junkLen = 3)
    val wavB = MediaCodecs.Wav.write(16000, Array[Short](1, -2, 3), junkLen = 0)
    val media = Seq(Multimodal.Container(1L, wavA), Multimodal.Container(2L, wavB))
      .toDS()
    val got = Multimodal.audioTrimSilence(media, 8192).collect()
      .map(r => r.media_id -> r).toMap
    val a = got(1L)
    assert((a.n_samples, a.lead_trim, a.tail_trim, a.n_kept) == (6L, 2L, 2L, 2L))
    assert(a.kept_sum_sq == 9000L * 9000 + 20000L * 20000)
    assert(a.peak == 20000L)
    val b = got(2L)
    // all-quiet: the whole clip is lead trim, nothing kept
    assert((b.n_samples, b.lead_trim, b.tail_trim, b.n_kept) == (3L, 3L, 0L, 0L))
    assert(b.kept_sum_sq == 0L && b.peak == 0L)
  }

  /** Tiny documents fixture with a hand-computable RAKE answer. */
  private lazy val rakeFixtureDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rake-fixture")
    graft.util.TempDirs.deleteOnExit(dir)
    Seq(
      (1L, "the quick fox and lazy dog", "en", "web", 26L),
      (2L, "a quick fox", "en", "web", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("tx43 kernel: island split at stopwords, degree/frequency scoring, " +
    "tie-break by phrase") {
    val rows = SparkEntry.queries("tx43_rake_keywords")(spark, rakeFixtureDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // quick/fox: freq 2, deg 4 → 2e6 each; lazy/dog: freq 1, deg 2 → 2e6
    // each; both phrases score 4e6 — the tie breaks alphabetically
    assert(rows.toSeq == Seq(
      (1L, "lazy dog", 2L, 1L, 1L, 4000000L),
      (2L, "quick fox", 2L, 2L, 2L, 4000000L)))
  }

  test("v34 over sf0.001: the norm-band certificate holds (n_missed = 0, " +
    "bounds consistent)") {
    val rows = SparkEntry.queries("v34_mips_norm_bands")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (top1Ip, kth) = (r.getDouble(2), r.getDouble(3))
      val (bands, scanned, corpus) = (r.getLong(4), r.getLong(5), r.getLong(6))
      val missed = r.getLong(8)
      assert(missed == 0L, s"lossless certificate violated: $r")
      assert(top1Ip >= kth && bands >= 1L && bands <= 16L)
      assert(scanned >= 5L && scanned <= corpus)
    }
  }

  /** click = pure ramp, view = 2·ramp + alternating ±1 noise: the pair is
    * cointegrated with hedge ratio ≈ 2 and a perfectly anti-persistent
    * spread (e flips sign hourly → γ near −2, ρ near −1). */
  private lazy val cointFixtureDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-coint-fixture")
    graft.util.TempDirs.deleteOnExit(dir)
    val rows = (0 until 128).flatMap { i =>
      val ts = java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(i))
      Seq(
        (i.toLong * 2, ts, 1L, "click", (i + 1).toDouble, "{}"),
        (i.toLong * 2 + 1, ts, 1L, "view",
          2.0 * (i + 1) + (if (i % 2 == 0) 1.0 else -1.0), "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir.toString
  }

  test("ts56 kernel: cointegrated ramp pair recovers the hedge ratio and " +
    "an anti-persistent spread") {
    val r = SparkEntry.queries("ts56_pair_cointegration")(
      spark, cointFixtureDir).collect()
    assert(r.length == 1)
    val row = r.head
    val (n, nDiff) = (row.getLong(0), row.getLong(1))
    val (beta, gamma, rho) =
      (row.getDouble(2), row.getDouble(3), row.getDouble(4))
    assert(n == 128L && nDiff == 127L)
    assert(math.abs(beta - 2.0) < 0.01, s"beta=$beta")
    // alternating spread: e_t ≈ −e_{t−1} → γ ≈ −2, ρ ≈ −1
    assert(gamma < -1.5 && gamma > -2.5, s"gamma=$gamma")
    assert(math.abs(rho - (1.0 + gamma)) < 2e-6)
    assert(row.getDouble(5) > 0.0) // resid_sd
  }

  test("tx44 over sf0.001: every odd doc classified once, labels from the " +
    "training lang set") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("tx44_chartrigram_langid")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val langs = graft.sources.Tables.table(spark, sf, "documents")
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    rows.foreach { r =>
      assert(langs.contains(r.getString(0)) && langs.contains(r.getString(1)))
    }
    val classified = rows.map(_.getLong(2)).sum
    val expected = graft.sources.Tables.table(spark, sf, "documents")
      .filter(col("doc_id") % 2 === 1)
      .filter(length(expr("substr(lower(text), 1, 256)")) >= 3)
      .count()
    assert(classified == expected,
      s"classified $classified of $expected test docs")
  }

  test("q59 kernel: generator cardinalities — 3 stack rows, 2 inline, " +
    "2 map, and OUTER's null row for the empty array") {
    val rows = SparkEntry.queries("q59_generator_gallery")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    val byGen = rows.groupBy(_._1)
    assert(byGen("stack").length == 30 && byGen("inline").length == 20
      && byGen("map").length == 20)
    // keys 0, 4, 8 have empty arrays → exactly one (-1, -1) OUTER row each
    val outerNullKeys = byGen("pos_outer")
      .filter(r => r._4 == -1L && r._5 == -1L).map(_._2).sorted
    assert(outerNullKeys.toSeq == Seq(0L, 4L, 8L))
    // key 7 → sequence(1,3): pos 0,1,2 with v = pos+1
    assert(byGen("pos_outer").filter(_._2 == 7L).map(r => (r._4, r._5))
      .sorted.toSeq == Seq((0L, 1L), (1L, 2L), (2L, 3L)))
  }

  test("gs28 over the gas fixture: each sealed window emitted exactly once, " +
    "aggregates internally consistent") {
    val rows = SparkEntry.queries("gs28_stream_timer_seal")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    // the timer path must fire once per (window, field) — a duplicate
    // here means a timer re-registration or a state leak
    val keys = rows.map(r => (r.getLong(0), r.getString(1)))
    assert(keys.distinct.length == keys.length)
    rows.foreach { r =>
      val (n, sum, mn, mx) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(n > 0 && mn <= mx)
      assert(sum >= n * mn && sum <= n * mx)
    }
  }

  test("gs27 over the gas fixture: KMV estimate is exact below k, " +
    "bounded-error at k, and stream agrees with the batch store") {
    val rows = SparkEntry.queries("gs27_stream_kmv_distinct")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (kUsed, nEst, nExact, err) =
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(kUsed >= 1L && kUsed <= 16L)
      // below k the sketch IS the distinct set: stream-vs-batch equality
      // here hash-verifies the whole stateful path
      if (kUsed < 16L) assert(nEst == nExact, s"sub-k estimate not exact: $r")
      else assert(err < 1500000L, s"estimator error out of family range: $r")
    }
  }

  test("ts55 kernel: alternating series has VR = 0 at even k; " +
    "a zero-variance-of-differences series is excluded") {
    val rows = SparkEntry.queries("ts55_variance_ratio")(spark, hurstFixtureDir)
      .collect()
    val byKey = rows.map(r =>
      (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // alt: every even-k return is exactly 0 → Var = 0 → VR = 0
    for (k <- Seq(2L, 4L, 8L))
      assert(byKey(("alt", k)) == 0.0, s"alt k=$k: ${byKey(("alt", k))}")
    // ramp: 1-returns are constant → Var(r₁) = 0 → v1 > 0 filter drops it
    assert(!rows.exists(_.getString(0) == "ramp"),
      "ramp must be excluded (zero base variance)")
  }

  /** Order 10: three lines incl. a ship BEFORE the order date at a
    * half-day offset (floorDiv must floor to −2, where truncation would
    * give −1); order 20: no lines → sentinel row; order 13: filtered. */
  private lazy val cogroupFixtureDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cogroup-fixture")
    graft.util.TempDirs.deleteOnExit(dir)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq(
      (10L, 1L, "F", 100.0, ts("2024-01-10 00:00:00"), "1-URGENT"),
      (20L, 2L, "O", 50.0, ts("2024-01-05 00:00:00"), "2-HIGH"),
      (13L, 3L, "F", 10.0, ts("2024-01-01 00:00:00"), "3-MEDIUM"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq(
      (10L, 1L, 1L, 1, 7.0, 70.0, 0.0, 0.0, "N", "O",
        ts("2024-01-08 12:00:00")),
      (10L, 1L, 1L, 2, 3.0, 30.0, 0.0, 0.0, "N", "O",
        ts("2024-01-10 00:00:00")),
      (10L, 1L, 1L, 3, 2.0, 20.0, 0.0, 0.0, "N", "O",
        ts("2024-01-15 00:00:00")),
      (13L, 1L, 1L, 1, 9.0, 90.0, 0.0, 0.0, "N", "O",
        ts("2024-01-02 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir.toString
  }

  test("q60 kernel: cogroup merge sees ship-sorted lines, floors negative " +
    "lags, and pins sentinels for line-less orders") {
    val rows = SparkEntry.queries("q60_typed_cogroup")(spark, cogroupFixtureDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.toSeq == Seq(
      // first line ships 1.5 days EARLY: floorDiv → −2 (truncate would say −1)
      (10L, "F", 3L, 12L, 7L, -2L, 5L, 7L),
      (20L, "O", 0L, 0L, -999999L, -999999L, -999999L, 0L)))
  }

  /** One day per Allen relation the events data can't be trusted to
    * exhibit: during, before, overlaps, meets, equals. */
  private lazy val allenFixtureDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-allen-fixture")
    graft.util.TempDirs.deleteOnExit(dir)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    var id = 0L
    def e(t: String, typ: String) = { id += 1; (id, ts(t), 1L, typ, 1.0, "{}") }
    Seq(
      e("2024-02-01 01:00:00", "error"), e("2024-02-01 02:00:00", "error"),
      e("2024-02-01 00:00:00", "purchase"), e("2024-02-01 03:00:00", "purchase"),
      e("2024-02-02 00:00:00", "error"), e("2024-02-02 01:00:00", "error"),
      e("2024-02-02 02:00:00", "purchase"), e("2024-02-02 03:00:00", "purchase"),
      e("2024-02-03 00:00:00", "error"), e("2024-02-03 02:00:00", "error"),
      e("2024-02-03 01:00:00", "purchase"), e("2024-02-03 03:00:00", "purchase"),
      e("2024-02-04 00:00:00", "error"), e("2024-02-04 01:00:00", "error"),
      e("2024-02-04 01:00:00", "purchase"), e("2024-02-04 02:00:00", "purchase"),
      e("2024-02-05 01:00:00", "error"), e("2024-02-05 02:00:00", "error"),
      e("2024-02-05 01:00:00", "purchase"), e("2024-02-05 02:00:00", "purchase"),
      e("2024-02-06 01:00:00", "error")) // no purchase that day → dropped
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir.toString
  }

  test("ts57 kernel: the Allen ladder classifies crafted interval pairs") {
    val rows = SparkEntry.queries("ts57_allen_relations")(spark, allenFixtureDir)
      .collect().map(r => r.getDate(0).toString -> r.getString(5))
    assert(rows.toSeq == Seq(
      "2024-02-01" -> "during", "2024-02-02" -> "before",
      "2024-02-03" -> "overlaps", "2024-02-04" -> "meets",
      "2024-02-05" -> "equals"))
  }

  test("mm20 kernel: parser-side bit-length buckets match the closed-form " +
    "synthetic samples for every media") {
    val rows = SparkEntry.queries("mm20_dynamic_range")(spark, sf).collect()
    assert(rows.nonEmpty)
    def bl(a: Int) = 32 - Integer.numberOfLeadingZeros(a)
    rows.foreach { r =>
      val id = r.getLong(0); val n = (32 + id % 64).toInt
      val abs = (0 until n).map { i =>
        val u = ((id * 131 + i * 17) % 65536).toInt
        math.abs(if (u >= 32768) u - 65536 else u)
      }
      val nz = abs.filter(_ > 0)
      val peak = if (nz.isEmpty) 0L else bl(nz.max).toLong
      val floor = if (nz.isEmpty) 0L else bl(nz.min).toLong
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)) ==
        (n.toLong, peak, floor, peak - floor, abs.count(_ < 8192).toLong),
        s"media $id")
    }
  }

  test("q61 kernel: observed metrics equal the fixture's hand-computed " +
    "aggregates") {
    val rows = SparkEntry.queries("q61_observe_metrics")(spark, cogroupFixtureDir)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    def us(s: String) =
      java.sql.Timestamp.valueOf(s).getTime * 1000L
    assert(r.getLong(0) == 4L)                    // 4 fixture lineitems
    assert(r.getDouble(1) == 21.0)                // 7 + 3 + 2 + 9
    assert(r.getLong(2) == 0L)                    // no 'R' returnflags
    assert(r.getLong(3) == us("2024-01-02 00:00:00"))
    assert(r.getLong(4) == us("2024-01-15 00:00:00"))
  }

  test("v36 over sf0.001: distortion is exactly (p2/16)/d2 and inside " +
    "the JL concentration envelope") {
    val rows = SparkEntry.queries("v36_random_projection")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d2o, d2p, dist) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(d2o > 0L && d2p >= 0L)
      assert(dist == d2p.toDouble / 16.0 / d2o.toDouble)
      // k=16 sign projection: sd ≈ sqrt(2/k) ≈ 0.35; 0.05..5 is > 8 sd
      assert(dist > 0.05 && dist < 5.0, s"distortion out of envelope: $r")
    }
  }

  test("gs29 over the gas fixture: the chained streaming rollup equals " +
    "the batch recomputation under the seal rule") {
    val pts = SparkEntry.queries("gs01_field_filter")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val six = 21600000000L
    val cutoff = pts.map(_._1).max - 30L * 60 * 1000000
    val expected = pts.groupBy(_._1 / six)
      .filter { case (b, _) => (b + 1) * six <= cutoff }
      .map { case (b, vs) =>
        b * six -> ((vs.map(_._1 / 3600000000L).distinct.length.toLong,
          vs.length.toLong,
          vs.map(v => BigDecimal(v._2)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble))
      }
    val rows = SparkEntry.queries("gs29_stream_two_level")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length == expected.size)
    rows.foreach { r =>
      val exp = expected(r.getLong(0))
      assert((r.getLong(2), r.getLong(3), r.getDouble(4)) == exp,
        s"bucket ${r.getLong(0)}")
    }
  }

  /** click = sawtooth (t mod 7), view = 3·click₋₁ ± 0.5 alternating noise:
    * click Granger-causes view (near-perfect unrestricted fit), while
    * view's own lag explains little. */
  private lazy val grangerFixtureDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-granger-fixture")
    graft.util.TempDirs.deleteOnExit(dir)
    val rows = (0 until 128).flatMap { t =>
      val ts = java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 3, 1, 0, 0).plusHours(t))
      val click = (t % 7 + 1).toDouble
      val view = 3.0 * ((t - 1 + 7) % 7 + 1) +
        (if (t % 2 == 0) 0.5 else -0.5)
      Seq((t.toLong * 2, ts, 1L, "click", click, "{}"),
        (t.toLong * 2 + 1, ts, 1L, "view", view, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir.toString
  }

  test("ts58 kernel: the planted causal direction dominates and R2 obeys " +
    "the nesting inequality") {
    val rows = SparkEntry.queries("ts58_granger_causality")(
      spark, grangerFixtureDir).collect()
    val byDir = rows.map(r => r.getString(0) ->
      (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    val (bx, f, r2r, r2u) = byDir("click->view")
    assert(math.abs(bx - 3.0) < 0.05, s"beta_xlag should recover 3: $bx")
    assert(f > 100.0, s"planted causality must dominate: F=$f")
    assert(r2u > 0.95 && r2u >= r2r - 1e-9)
    // the unrestricted model can never fit worse than the restricted one
    rows.foreach(r => assert(r.getDouble(6) >= r.getDouble(5) - 1e-9))
  }

  test("v37 over sf0.001: merge invariants — recall derived from hits, " +
    "delta contribution bounded, top1 is rank 1 of the union") {
    val rows = SparkEntry.queries("v37_delta_index_merge")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDelta, nHit, recall) =
        (r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(nDelta >= 0L && nDelta <= 5L)
      assert(nHit >= 0L && nHit <= 5L)
      assert(math.abs(recall - nHit / 5.0) < 1e-9)
      assert(Set("main", "delta").contains(r.getString(2)))
    }
  }

  test("gs30 over the gas fixture: the complete-mode snapshot equals the " +
    "batch aggregate") {
    val pts = SparkEntry.queries("gs01_field_filter")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val rows = SparkEntry.queries("gs30_stream_complete_totals")(spark, sf)
      .collect().filter(_.getString(0) == "CO (ppm)")
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(1) == pts.length.toLong)
    assert(r.getDouble(2) == pts.map(p => BigDecimal(p._2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
    assert(r.getLong(3) == pts.map(_._1).max)
  }

  /** event_id order 0..5 with ts hours 0,2,1,3,3,5: two adjacent
    * backsteps? no — one (2→1); equal stamps are NOT inversions. */
  private lazy val oooFixtureDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ooo-fixture")
    graft.util.TempDirs.deleteOnExit(dir)
    def ts(h: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 4, 1, 0, 0).plusHours(h))
    Seq((0L, ts(0)), (1L, ts(2)), (2L, ts(1)), (3L, ts(3)), (4L, ts(3)),
      (5L, ts(5)))
      .map { case (id, t) => (id, t, 1L, "click", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir.toString
  }

  test("ts59 kernel: counts exactly the planted backstep, ties are not " +
    "inversions, ppm floors") {
    val rows = SparkEntry.queries("ts59_out_of_order")(spark, oooFixtureDir)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      (6L, 1L, 3600000000L, 200000L)) // 1 inversion / 5 pairs = 200000 ppm
  }

  test("q63 kernel: the filtered-out branch never survives and every " +
    "surviving cell is even and recomputable") {
    val nation = graft.sources.Tables.table(spark, sf, "nation")
      .select("n_nationkey", "n_name", "n_regionkey").collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getString(1),
        r.getAs[Number](2).longValue()))
    val expected = nation.flatMap { case (k, name, reg) =>
      Seq(("name_len", name.length + 1L), ("region", reg + 1L))
        .filter(_._2 % 2 == 0).map { case (tag, v) => (k, tag, v) }
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q63_map_functions")(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getString(1),
        r.getAs[Number](2).longValue()))
    assert(!got.exists(_._2 == "key2"), "odd-always branch must be filtered")
    assert(got.toSeq == expected.toSeq)
  }

  test("v35 over sf0.001: beam-search visited set is walk-bounded and " +
    "recall is a true fraction of measured hits") {
    val rows = SparkEntry.queries("v35_graph_beam_search")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nVisited, nHit, recall) =
        (r.getLong(3), r.getLong(4), r.getDouble(5))
      // entry point + 3 hops of (beam 4 × degree 4) = 1 + 3·16 max scored
      assert(nVisited >= 1L && nVisited <= 49L, s"walk bound violated: $r")
      assert(nHit >= 0L && nHit <= 5L)
      assert(math.abs(recall - nHit / 5.0) < 1e-9,
        s"recall must be derived from n_hit: $r")
    }
  }

  test("mm21 equalization kernel: closed forms through the real BMP codec") {
    import spark.implicits._
    import graft.multimodal.{MediaCodecs, Multimodal}
    // two-level: hist{0:3, 255:3}, cdf_min=3 → new(0)=0, new(255)=255
    val twoLevel = MediaCodecs.Bmp.write(2, 1, Array(0, 0, 0, 255, 255, 255))
    // single-level: n == cdf_min → everything pinned to 0 by convention
    val flat = MediaCodecs.Bmp.write(2, 2, Array.fill(12)(7))
    // three-level with a non-exact division: hist{10:2, 20:1, 30:3},
    // cdf_min=2, n=6 → new(20) = 1·255/4 = 63 (floor), new(30) = 255
    val tri = MediaCodecs.Bmp.write(2, 1, Array(10, 10, 20, 30, 30, 30))
    val media = Seq(
      Multimodal.Container(2L, twoLevel),
      Multimodal.Container(4L, flat),
      Multimodal.Container(6L, tri)).toDS()
    val got = Multimodal.histogramEqualize(media)
      .collect().map(e => e.media_id -> e).toMap
    assert(got(2L) == Multimodal.EqualizedImage(2L, 6, 2, 765, 0, 255))
    assert(got(4L) == Multimodal.EqualizedImage(4L, 12, 1, 0, 0, 0))
    assert(got(6L) == Multimodal.EqualizedImage(6L, 6, 3, 828, 0, 255))
  }
}
