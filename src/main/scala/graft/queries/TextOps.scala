package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Barriers

/** LLM-training-data text operators over `documents` (north-star scope,
  * SURVEY.md §2.12): exact dedup, MinHash-LSH fuzzy dedup, n-gram Jaccard
  * verification, token/quality/language analysis, document fingerprinting.
  *
  * Scale design: every operator is a pure dataflow of narrow per-row
  * expressions plus hash shuffles on bounded keys.
  *  - exact dedup shuffles on a 128-bit content hash (uniform, no skew);
  *  - MinHash-LSH is the linear-time near-dup path: per-doc signature
  *    (map-side only) → shuffle on (band, band_signature) → within-bucket
  *    pairing. Bucket sizes are bounded by the band width, never O(n²) in
  *    the corpus — this is the 100 TB answer to fuzzy dedup;
  *  - exact Jaccard runs only on LSH-survivor-scale pair samples.
  * All hashing is MD5 of explicit strings so the DuckDB oracle can replay it
  * bit-for-bit.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String) = Tables.table(s, dir, "documents")

  /** tokens of lower-cased, whitespace-split text */
  private val tokExpr = "split(trim(lower(text)), '\\\\s+')"
  private val stopList = "('the', 'a', 'of', 'and', 'to', 'in', 'is')"

  /** Per-doc MinHash band signatures: 16 hashes, 4 bands of 4 rows.
    * Hash family j = md5(j || ':' || shingle); signature = min per j.
    *
    * Scale shape: the 16 per-seed hashes are computed as 16 map-side columns
    * on each shingle row, then reduced by ONE `groupBy(doc_id)` carrying 16
    * `min` aggregates (partial map-side combine). No row amplification before
    * the shuffle and a single shuffle total — vs the naive layout (explode
    * seed 0..15 → 16× shingle rows → two groupBys) this shuffles 16× fewer
    * rows. The 4 band rows per doc are fanned out only AFTER aggregation,
    * where cardinality is |docs|, not |shingles|. */
  /** 16-component MinHash signature per doc (sig0..sig15): min md5 over
    * the doc's distinct `shingleWords`-token shingles, salted per
    * component. Shared by the banding (tx05/tx11/…) and the estimator-
    * accuracy measurement (tx28). */
  private def minhashSigs(d: DataFrame, shingleWords: Int): DataFrame = {
    val parts = (0 until shingleWords)
      .map(o => if (o == 0) "element_at(tk, i)" else s"element_at(tk, i + $o)")
      .mkString(", ")
    val shingles = d.selectExpr("doc_id", s"$tokExpr AS tk")
      .where(expr(s"size(tk) >= $shingleWords"))
      .selectExpr("doc_id",
        s"explode(array_distinct(transform(sequence(1, size(tk) - ${shingleWords - 1}), i -> concat_ws(' ', $parts)))) AS shingle")
    val minCols = (0 until 16).map(j =>
      min(expr(s"md5(cast(concat('$j', ':', shingle) as binary))")).as(s"sig$j"))
    shingles.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
  }

  private def bandSignatures(d: DataFrame, shingleWords: Int): DataFrame = {
    val sigs = minhashSigs(d, shingleWords)
    // band b = md5('jj:sig_j | ...') over j = 4b..4b+3; the lpad'ed two-digit
    // j prefix makes lexicographic order == j order, so the concat below is
    // byte-identical to sort_array(collect_list(...)) in the old layout.
    val bandStructs = (0 until 4).map { b =>
      val quad = (4 * b until 4 * b + 4)
        .map(j => f"concat('$j%02d', ':', sig$j)").mkString(", ")
      s"named_struct('b', $b, 'band_sig', md5(cast(concat_ws('|', $quad) as binary)))"
    }
    // |docs|×4 rows of (long, int, 32-char hash) — barriered because every
    // bucket self-join consumes BOTH sides of this frame, re-deriving the
    // shingle-explode + 16-way min-md5 aggregate per side otherwise (r16;
    // six call sites share the fix). NOTE the Barriers.eager contract:
    // this runs a real job at query-BUILD time for every caller.
    Barriers.eager(
      sigs.selectExpr("doc_id", s"inline(array(${bandStructs.mkString(", ")}))"))
  }

  /** Shared DSIR weight pipeline (tx29/tx31): hashed-bigram 64-bucket
    * features, target ('src0') vs raw histogram log-ratios (6-dp decimal),
    * per-doc weight w = Σ n_b · lr_b as an EXACT decimal. The feature
    * space is closed, so the global stage is a constant-size (64-row)
    * aggregate broadcast back — no shuffle exceeds |docs| × 64 rows at
    * any corpus size. */
  private def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val bgExpr = s"transform(sequence(1, size(tk) - 1), " +
      "i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1)))"
    val db = fanout(docs(s, dir))
      .selectExpr("doc_id", "source", s"$tokExpr AS tk")
      .where(expr("size(tk) >= 2"))
      .selectExpr("doc_id", "source", s"explode($bgExpr) AS bg")
      .withColumn("bucket",
        expr("cast(conv(substr(md5(cast(bg as binary)), 1, 2), 16, 10) as int) % 64"))
      .groupBy(col("doc_id"), col("source"), col("bucket"))
      .agg(count(lit(1)).as("nb"))
      // ≤ |docs|×64 rows, three consumers (raw histogram, target histogram,
      // per-doc weight join) — barrier the bigram explode+hash pass (r16;
      // Barriers.eager contract: a real job runs at query-BUILD time)
      .transform(Barriers.eager)
    val rawB = db.groupBy(col("bucket")).agg(sum(col("nb")).as("raw"))
    val tgtB = db.filter(col("source") === "src0")
      .groupBy(col("bucket")).agg(sum(col("nb")).as("tgt"))
    val tots = rawB.agg(sum(col("raw")).as("tot_r"))
      .crossJoin(tgtB.agg(sum(col("tgt")).as("tot_t")))
    val lr = rawB.join(tgtB, Seq("bucket"), "left")
      .withColumn("tgt", coalesce(col("tgt"), lit(0L)))
      .crossJoin(broadcast(tots))
      .withColumn("lr",
        round(log(((col("tgt") + 1) * (col("tot_r") + 64)).cast("double") /
          ((col("raw") + 1) * (col("tot_t") + 64)).cast("double")), 6)
          .cast("decimal(18,6)"))
      .select(col("bucket"), col("lr"))
    db.join(broadcast(lr), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nb")).as("n_bigrams"), sum(col("nb") * col("lr")).as("w"))
  }

  /** Injected markup fixtures — shared verbatim by tx46 and its oracle. */
  private val TX46_HTML_ROW =
    "<p>Hello <b>world</b> &amp; friends</p>  <div class=\"x\">tail" +
      "   text &lt;kept&gt;</div>"
  private val TX46_BROKEN_ROW =
    "plain &quot;quoted&quot; start <span>open tag never closed " +
      "and   wide   gaps"

  /** Fixed BPE merge vocabulary, in rank order. Valid by construction: every
    * rule's left/right part is a single character or the product of a
    * strictly earlier rule. */
  private val bpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n",
    "o" -> "r", "e" -> "s", "s" -> "t", "in" -> "g", "o" -> "u",
    "c" -> "h", "l" -> "l", "w" -> "h", "th" -> "at", "ou" -> "r")

  private val dTok = raw"regexp_split_to_array(trim(lower(text)), '\s+')"
  private val dStop = "('the', 'a', 'of', 'and', 'to', 'in', 'is')"

  val specs: Seq[QuerySpec] = Seq(
    // exact dedup by content hash: keep lowest doc_id per identical text
    QuerySpec("tx01_exact_dedup", (s, dir) =>
      docs(s, dir)
        .groupBy(md5(col("text").cast("binary")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id")),
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin),

    // token counting + corpus stats per (lang, source)
    QuerySpec("tx02_token_stats", (s, dir) =>
      docs(s, dir)
        .withColumn("n_tokens", expr(s"size($tokExpr)").cast("long"))
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          max(col("n_tokens")).as("max_tokens"))
        .orderBy(col("lang"), col("source")),
      s"""WITH d AS (SELECT lang, source, n_chars, len($dTok) AS n_tokens FROM documents)
         |SELECT lang, source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
         |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
         |  MAX(n_tokens) AS max_tokens
         |FROM d GROUP BY lang, source ORDER BY lang, source""".stripMargin),

    // per-document quality scoring (length / punctuation / stopword ratios)
    QuerySpec("tx03_quality_score", (s, dir) =>
      fanout(docs(s, dir))
        .withColumn("n_tokens", expr(s"size($tokExpr)").cast("long"))
        .withColumn("n_stop",
          expr(s"size(filter($tokExpr, t -> t IN $stopList))").cast("long"))
        .withColumn("n_punct",
          (length(col("text")) - length(regexp_replace(col("text"), "[^\\w\\s]", ""))).cast("long"))
        .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
        .withColumn("char_per_token", length(col("text")).cast("double") / col("n_tokens"))
        .withColumn("quality_score",
          round(lit(0.4) * col("stop_ratio") +
            lit(0.6) * least(lit(1.0), col("n_tokens").cast("double") / lit(100.0)), 6))
        .select(col("doc_id"), col("n_tokens"), col("n_stop"), col("n_punct"),
          col("stop_ratio"), col("char_per_token"), col("quality_score"))
        .orderBy(col("doc_id")),
      s"""WITH d AS (
         |  SELECT doc_id, text,
         |    len($dTok) AS n_tokens,
         |    len(list_filter($dTok, t -> t IN $dStop)) AS n_stop,
         |    length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
         |  FROM documents)
         |SELECT doc_id, n_tokens, n_stop, n_punct,
         |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
         |  CAST(length(text) AS DOUBLE) / n_tokens AS char_per_token,
         |  ROUND(0.4 * (CAST(n_stop AS DOUBLE) / n_tokens)
         |      + 0.6 * LEAST(1.0, CAST(n_tokens AS DOUBLE) / 100.0), 6) AS quality_score
         |FROM d ORDER BY doc_id""".stripMargin),

    // heuristic language ID (stopword-profile scoring) vs. the labeled lang
    QuerySpec("tx04_langid_confusion", (s, dir) =>
      fanout(docs(s, dir))
        .withColumn("stop_ratio",
          expr(s"size(filter($tokExpr, t -> t IN $stopList))").cast("double") /
            expr(s"size($tokExpr)"))
        .withColumn("predicted", when(col("stop_ratio") >= 0.08, "en").otherwise("other"))
        .groupBy(col("predicted"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("predicted"), col("lang")),
      s"""WITH d AS (
         |  SELECT lang,
         |    CAST(len(list_filter($dTok, t -> t IN $dStop)) AS DOUBLE) / len($dTok) AS stop_ratio
         |  FROM documents)
         |SELECT CASE WHEN stop_ratio >= 0.08 THEN 'en' ELSE 'other' END AS predicted,
         |  lang, COUNT(*) AS n
         |FROM d GROUP BY predicted, lang ORDER BY predicted, lang""".stripMargin),

    // MinHash + LSH banding: near-duplicate candidate pairs
    QuerySpec("tx05_minhash_pairs", (s, dir) => {
      val bd = bandSignatures(fanout(docs(s, dir)), shingleWords = 3)
      val a = bd.select(col("b"), col("band_sig"), col("doc_id").as("doc_a"))
      val c = bd.select(col("b"), col("band_sig"), col("doc_id").as("doc_b"))
      a.join(c, Seq("b", "band_sig"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared_bands"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
      s"""WITH toks AS (SELECT doc_id, $dTok AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
         |  FROM toks WHERE len(tk) >= 3),
         |hs AS (
         |  SELECT doc_id, j, MIN(md5(j::VARCHAR || ':' || shingle)) AS sig
         |  FROM sh, range(0, 16) t(j) GROUP BY doc_id, j),
         |bd AS (
         |  SELECT doc_id, j // 4 AS b,
         |    md5(string_agg(lpad(j::VARCHAR, 2, '0') || ':' || sig, '|'
         |        ORDER BY lpad(j::VARCHAR, 2, '0') || ':' || sig)) AS band_sig
         |  FROM hs GROUP BY doc_id, j // 4)
         |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, COUNT(*) AS n_shared_bands
         |FROM bd a JOIN bd c ON a.b = c.b AND a.band_sig = c.band_sig AND a.doc_id < c.doc_id
         |GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin),

    // exact n-gram Jaccard on a deterministic pair sample, INTERSECTING
    // pairs only — the tx35-style shingle-keyed inverted-index join
    // (r10 verdict item 8: this retired the board's last non-ground-
    // truth cartesian). Pair generation is one shingle-keyed shuffle
    // whose volume is Σ_shingle |A-postings|·|B-postings| — bounded by
    // the shared-shingle structure, not the |A|×|B| grid — and the
    // Jaccard stays EXACT (no df cap: every shared shingle counts;
    // the 1/37 × 1/41 id sample is what bounds the posting lists).
    // Zero-intersection pairs carry jaccard 0 by definition and are no
    // longer enumerated.
    QuerySpec("tx06_ngram_jaccard", (s, dir) => {
      val sh = fanout(docs(s, dir))
        .selectExpr("doc_id", s"$tokExpr AS tk")
        .where(expr("size(tk) >= 3"))
        .selectExpr("doc_id",
          "explode(array_distinct(transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2))))) AS sh")
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val a = sh.filter(expr("doc_id % 37 = 0"))
        .select(col("sh"), col("doc_id").as("doc_a"))
      val b = sh.filter(expr("doc_id % 41 = 0"))
        .select(col("sh"), col("doc_id").as("doc_b"))
      a.join(b, Seq("sh"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_inter"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
          Seq("doc_b"))
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
        // unrounded integer-ratio division: identical IEEE result on any
        // engine; round(·,6) would be engine-dependent when v₂(n_union)=7
        // puts the quotient exactly on a half-way point (ts29 class)
        .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |  FROM (SELECT doc_id, $dTok AS tk FROM documents) WHERE len(tk) >= 3),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS n_inter,
         |    len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS n_union
         |  FROM sh a, sh b
         |  WHERE a.doc_id % 37 = 0 AND b.doc_id % 41 = 0 AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
         |  CAST(n_union AS BIGINT) AS n_union,
         |  CAST(n_inter AS DOUBLE) / n_union AS jaccard
         |FROM p WHERE n_inter >= 1 ORDER BY doc_a, doc_b""".stripMargin),

    // document fingerprint: 64-char polynomial rolling hash mod 1e9+7
    QuerySpec("tx07_fingerprint", (s, dir) =>
      fanout(docs(s, dir))
        .withColumn("fp", expr(
          "aggregate(sequence(1, least(length(text), 64)), 0L, (acc, i) -> pmod(acc * 31 + ascii(substring(text, i, 1)), 1000000007))"))
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(range(1, least(length(text), 64) + 1), i -> ascii(substr(text, i, 1)))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // SimHash near-dup: 64-bit signature from token hashes, LSH-banded into
    // 2×32-bit bands, candidate pairs scored by hamming distance. Like
    // MinHash this is the linear-scale dedup shape: signatures are map-side,
    // the only shuffle keys on (band, value), pairs exist only in buckets.
    // Band width is the bucket-size dial: 16-bit bands on this clustered
    // corpus put ~2.4M pairs in buckets at sf0.1; 32-bit bands cut that to
    // ~150k while still catching everything within hamming 8 of a dup in
    // at least one half.
    QuerySpec("tx08_simhash_pairs", (s, dir) => {
      // The whole 64-bit signature is ONE per-row expression
      // (graft.functions.SimHashExpr): tokenize + distinct + md5 + majority
      // in a single pass per document — no token explode, no shuffle at all
      // before the (band, value) bucket join, which is exactly the shuffle
      // LSH needs anyway. (Earlier layouts shuffled |token| or 16×|token|
      // rows through one or two groupBys first.)
      // (doc_id, 16-char hash) per row — barriered: both bucket-join sides
      // re-ran the full tokenize+hash+majority signature pass otherwise
      // (r16; Barriers.eager = SWEEP17's A/B lever)
      val sig = Barriers.eager(fanout(docs(s, dir))
        .selectExpr("doc_id", "graft_simhash(text) AS simhash"))
      val bands = sig
        .select(col("doc_id"), col("simhash"), explode(expr("sequence(0, 1)")).as("b"))
        .withColumn("band", expr("substring(simhash, 1 + 8 * b, 8)"))
      val a = bands.select(col("b"), col("band"),
        col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
      val c = bands.select(col("b"), col("band"),
        col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
      a.join(c, Seq("b", "band"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
        .agg(count(lit(1)).as("n_shared_bands"))
        // hamming distance over the 16 hex nibbles via a popcount lookup.
        // Inlined as 16 explicit terms instead of an `aggregate` lambda:
        // higher-order functions run interpreted (outside codegen), and on
        // 100k+ candidate pairs that interpreted inner loop was the whole
        // query's runtime; the inlined form stays in whole-stage codegen.
        .withColumn("hamming", expr(
          (1 to 16).map(p =>
            s"""cast(substring('0112122312232334',
               |  1 + ((instr('0123456789abcdef', substring(sig_a, $p, 1)) - 1) ^
               |       (instr('0123456789abcdef', substring(sig_b, $p, 1)) - 1)), 1) as int)""".stripMargin)
            .mkString("(", " + ", ")")))
        .filter(col("hamming") <= 8)
        .select(col("doc_a"), col("doc_b"), col("n_shared_bands"), col("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
      s"""WITH toks AS (SELECT DISTINCT doc_id, unnest($dTok) AS tok FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS h FROM toks),
         |bits AS (
         |  SELECT doc_id, i,
         |    ((strpos('0123456789abcdef', substr(h, 1 + CAST(i // 4 AS INT), 1)) - 1)
         |      >> (3 - CAST(i % 4 AS INT))) & 1 AS bit
         |  FROM h, range(0, 64) t(i)),
         |sb AS (SELECT doc_id, i, CASE WHEN SUM(2 * bit - 1) > 0 THEN 1 ELSE 0 END AS sbit
         |       FROM bits GROUP BY doc_id, i),
         |nib AS (SELECT doc_id, i // 4 AS ni,
         |    substr('0123456789abcdef', CAST(SUM(sbit << CAST(3 - (i % 4) AS INT)) AS INT) + 1, 1) AS ch
         |  FROM sb GROUP BY doc_id, i // 4),
         |sig AS (SELECT doc_id, string_agg(ch, '' ORDER BY ni) AS simhash FROM nib GROUP BY doc_id),
         |bands AS (SELECT doc_id, simhash, b, substr(simhash, CAST(1 + 8 * b AS INT), 8) AS band
         |          FROM sig, range(0, 2) t(b)),
         |p AS (
         |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |    a.simhash AS sig_a, c.simhash AS sig_b, COUNT(*) AS n_shared_bands
         |  FROM bands a JOIN bands c ON a.b = c.b AND a.band = c.band AND a.doc_id < c.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |hd AS (
         |  SELECT doc_a, doc_b, n_shared_bands,
         |    CAST(list_sum(list_transform(range(1, 17), q ->
         |      CAST(substr('0112122312232334',
         |        1 + CAST(xor(strpos('0123456789abcdef', substr(sig_a, CAST(q AS INT), 1)) - 1,
         |                     strpos('0123456789abcdef', substr(sig_b, CAST(q AS INT), 1)) - 1) AS INT), 1) AS INT)))
         |      AS INT) AS hamming
         |  FROM p)
         |SELECT doc_a, doc_b, n_shared_bands, hamming
         |FROM hd WHERE hamming <= 8 ORDER BY doc_a, doc_b""".stripMargin),

    // token counting, BPE-ish: word/number/punctuation regex vs whitespace
    // (the cheap pre-tokenizer estimate; tx10 is the real merge-table BPE)
    QuerySpec("tx09_bpe_tokens", (s, dir) =>
      fanout(docs(s, dir))
        .withColumn("ws_tokens", expr(s"size($tokExpr)").cast("long"))
        .withColumn("bpe_tokens",
          expr("size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))").cast("long"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("total_ws_tokens"),
          sum(col("bpe_tokens")).as("total_bpe_tokens"),
          (sum(col("bpe_tokens")).cast("double") / sum(col("ws_tokens"))).as("bpe_per_ws"))
        .orderBy(col("lang")),
      s"""WITH d AS (SELECT lang, len($dTok) AS ws_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_tokens
         |  FROM documents)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
         |  CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
         |  CAST(SUM(bpe_tokens) AS DOUBLE) / SUM(ws_tokens) AS bpe_per_ws
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin),

    // REAL merge-table BPE token counting: greedy application of a fixed
    // 20-rule merge vocabulary in rank order. Tokens are parenthesis-wrapped
    // (`the` → `(t)(h)(e)`) so a merge rule (X,Y) is the literal replacement
    // `(X)(Y)` → `(XY)` — boundaries can never be confused and non-letter
    // gaps (left as bare spaces) block cross-word merges. For a VALID merge
    // table (each rule's parts produced only by strictly earlier rules —
    // true of any learned BPE vocab) one left-to-right replacement pass per
    // rule in rank order is exactly iterative lowest-rank-pair BPE: a merge
    // at rank k only ever creates adjacencies involving its own new token,
    // which no rule ranked < k can reference. Token count = remaining '('.
    // All ops are codegen'd string builtins — narrow, no shuffle before the
    // per-language aggregate.
    QuerySpec("tx10_bpe_merge_tokens", (s, dir) => {
      val wrapped =
        "regexp_replace(regexp_replace(lower(text), '[^a-z]+', ' '), '([a-z])', '($1)')"
      val merged = bpeMerges.foldLeft(wrapped) { case (acc, (x, y)) =>
        s"replace($acc, '($x)($y)', '($x$y)')"
      }
      fanout(docs(s, dir))
        .selectExpr("doc_id", "lang", s"$merged AS m")
        .selectExpr("doc_id", "lang",
          "cast(length(m) - length(replace(m, '(', '')) as long) AS bpe_tokens")
        .orderBy(col("doc_id"))
    },
      {
        val wrapped =
          raw"regexp_replace(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), '([a-z])', '(\1)', 'g')"
        val merged = bpeMerges.foldLeft(wrapped) { case (acc, (x, y)) =>
          s"replace($acc, '($x)($y)', '($x$y)')"
        }
        s"""SELECT doc_id, lang,
           |  CAST(length(m) - length(replace(m, '(', '')) AS BIGINT) AS bpe_tokens
           |FROM (SELECT doc_id, lang, $merged AS m FROM documents)
           |ORDER BY doc_id""".stripMargin
      }),

    // the DEDUP DECISION on top of MinHash-LSH (tx05 lists candidate pairs;
    // this emits the per-document keep/drop verdict an LLM-data pipeline
    // acts on): drop every doc that has a smaller-id LSH near-dup, keeping
    // the smallest id of each duplicate group as canonical. One aggregate
    // over the pair list — no new shuffle shape beyond tx05. (This is a
    // single min-neighbor pass, not transitive closure: LSH duplicate
    // groups are bucket-cliques, where the two coincide; chains longer
    // than one hop would need an iterated propagation.)
    QuerySpec("tx11_neardup_dedup", (s, dir) => {
      val bd = bandSignatures(fanout(docs(s, dir)), shingleWords = 3)
      val a = bd.select(col("b"), col("band_sig"), col("doc_id").as("doc_a"))
      val c = bd.select(col("b"), col("band_sig"), col("doc_id").as("doc_b"))
      val canon = a.join(c, Seq("b", "band_sig"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_b").as("doc_id"))
        .agg(min(col("doc_a")).as("canonical_id"))
      docs(s, dir).select(col("doc_id"))
        .join(canon, Seq("doc_id"), "left")
        .withColumn("is_kept", col("canonical_id").isNull)
        .orderBy(col("doc_id"))
    },
      s"""WITH toks AS (SELECT doc_id, $dTok AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
         |  FROM toks WHERE len(tk) >= 3),
         |hs AS (
         |  SELECT doc_id, j, MIN(md5(j::VARCHAR || ':' || shingle)) AS sig
         |  FROM sh, range(0, 16) t(j) GROUP BY doc_id, j),
         |bd AS (
         |  SELECT doc_id, j // 4 AS b,
         |    md5(string_agg(lpad(j::VARCHAR, 2, '0') || ':' || sig, '|'
         |        ORDER BY lpad(j::VARCHAR, 2, '0') || ':' || sig)) AS band_sig
         |  FROM hs GROUP BY doc_id, j // 4),
         |canon AS (
         |  SELECT c.doc_id AS doc_id, MIN(a.doc_id) AS canonical_id
         |  FROM bd a JOIN bd c ON a.b = c.b AND a.band_sig = c.band_sig
         |    AND a.doc_id < c.doc_id
         |  GROUP BY c.doc_id)
         |SELECT d.doc_id, canonical_id, canonical_id IS NULL AS is_kept
         |FROM documents d LEFT JOIN canon USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // QUALITY-BASED SURVIVORSHIP — the "which copy do we keep" decision a
    // dedup run makes AFTER clustering: tx14 keeps the minimum id (an
    // arbitrary canonical), but a curation pipeline keeps the BEST member
    // — here the longest (n_chars, the standard keep-the-longest
    // heuristic), ties to the lowest id so the choice is deterministic.
    // One max-struct aggregate per component on top of tx14's component
    // assignment — the survivor pick adds a single component-keyed
    // shuffle over the (tiny) per-doc frame, nothing over pair scale.
    QuerySpec("tx36_dedup_survivorship", (s, dir) => {
      val bd = bandSignatures(fanout(docs(s, dir)), shingleWords = 3)
      val a = bd.select(col("b"), col("band_sig"), col("doc_id").as("doc_a"))
      val c = bd.select(col("b"), col("band_sig"), col("doc_id").as("doc_b"))
      val pairs = a.join(c, Seq("b", "band_sig"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .distinct()
      val comp = graft.operators.ConnectedComponents.minLabel(pairs)
      val withComp = docs(s, dir).select(col("doc_id"), col("n_chars"))
        .join(comp.select(col("id").as("doc_id"), col("label")),
          Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("label"), col("doc_id")))
      val surv = withComp.groupBy(col("component"))
        .agg(max_by(col("doc_id"),
          struct(col("n_chars"), (-col("doc_id")).as("nid")))
          .as("survivor_id"))
      withComp.join(surv, Seq("component"))
        .withColumn("is_survivor", col("doc_id") === col("survivor_id"))
        .select(col("doc_id"), col("component"), col("n_chars"),
          col("survivor_id"), col("is_survivor"))
        .orderBy(col("doc_id"))
    },
      // tx14's component replay + a rank-argmax survivor pick
      // (n_chars DESC, doc_id ASC — the same deterministic tie rule)
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $dTok AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
         |  FROM toks WHERE len(tk) >= 3),
         |hs AS (
         |  SELECT doc_id, j, MIN(md5(j::VARCHAR || ':' || shingle)) AS sig
         |  FROM sh, range(0, 16) t(j) GROUP BY doc_id, j),
         |bd AS (
         |  SELECT doc_id, j // 4 AS b,
         |    md5(string_agg(lpad(j::VARCHAR, 2, '0') || ':' || sig, '|'
         |        ORDER BY lpad(j::VARCHAR, 2, '0') || ':' || sig)) AS band_sig
         |  FROM hs GROUP BY doc_id, j // 4),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS src, c.doc_id AS dst
         |  FROM bd a JOIN bd c ON a.b = c.b AND a.band_sig = c.band_sig
         |    AND a.doc_id < c.doc_id),
         |sym AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT s.src, reach.r FROM sym s JOIN reach ON s.dst = reach.id),
         |comp AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
         |wc AS (
         |  SELECT d.doc_id, d.n_chars,
         |    COALESCE(comp.label, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp ON comp.id = d.doc_id),
         |sv AS (
         |  SELECT component, doc_id AS survivor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY component
         |      ORDER BY n_chars DESC, doc_id) AS rn FROM wc)
         |  WHERE rn = 1)
         |SELECT wc.doc_id, wc.component, wc.n_chars, sv.survivor_id,
         |  wc.doc_id = sv.survivor_id AS is_survivor
         |FROM wc JOIN sv USING (component)
         |ORDER BY wc.doc_id""".stripMargin),

    // POINTWISE MUTUAL INFORMATION collocations — the corpus-statistics
    // pass behind phrase mining and tokenizer-merge candidates: which
    // adjacent word pairs co-occur far above chance? PMI =
    // ln(c_ab·N / (c_a·c_b)) over bigram-slot counts (c_a = w as first
    // slot, c_b = w as second — self-consistent with N = total bigrams).
    // Bigrams are generated MAP-SIDE (transform over the token array —
    // no explode-and-self-join doubling); the only shuffles are
    // word-keyed aggregates bounded by vocabulary size, and N rides a
    // broadcast one-row frame (no driver action). Determinism: both
    // products are exact in int64 and < 2^53 (c ≤ ~1e6 at these scales;
    // a 100 TB corpus would switch to the log-subtraction form at the
    // cost of 4 libm calls/row), so the single ln sees one exact
    // integer-ratio quotient — the tx21/cn03 discipline, 6-dp-rounded.
    // Top-50 by (pmi DESC, w1, w2) is a total order → deterministic
    // TakeOrderedAndProject.
    QuerySpec("tx37_pmi_bigrams", (s, dir) => {
      val tk = fanout(docs(s, dir))
        .select(col("doc_id"), expr(tokExpr).as("toks"))
        .filter(size(col("toks")) >= 2)
      val bi = tk.select(explode(expr(
        "transform(sequence(0, size(toks) - 2)," +
          " i -> struct(toks[i] as w1, toks[i + 1] as w2))")).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val nTot = bi.agg(count(lit(1)).as("nn"))
      val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("ca"))
      val c2 = bi.groupBy(col("w2")).agg(count(lit(1)).as("cb"))
      bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
        .join(c1, Seq("w1")).join(c2, Seq("w2"))
        .crossJoin(broadcast(nTot))
        .withColumn("pmi", round(log(
          (col("c_ab") * col("nn")).cast("double")
            / (col("ca") * col("cb")).cast("double")), 6))
        .select(col("w1"), col("w2"), col("c_ab"), col("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(50)
    },
      // bigram slots via unnest + generate_subscripts (the v17-proven
      // form) and a pos+1 self-join; same 6-dp ln of one exact
      // integer-ratio quotient (DuckDB ln = natural log)
      s"""WITH t AS (SELECT doc_id, $dTok AS toks FROM documents),
         |t2 AS (SELECT * FROM t WHERE len(toks) >= 2),
         |u AS (SELECT doc_id, unnest(toks) AS w,
         |        generate_subscripts(toks, 1) AS pos FROM t2),
         |b AS (SELECT a.w AS w1, c.w AS w2 FROM u a JOIN u c
         |      ON c.doc_id = a.doc_id AND c.pos = a.pos + 1),
         |n AS (SELECT COUNT(*) AS nn FROM b),
         |c1 AS (SELECT w1 AS w, COUNT(*) AS ca FROM b GROUP BY 1),
         |c2 AS (SELECT w2 AS w, COUNT(*) AS cb FROM b GROUP BY 1),
         |ab AS (SELECT w1, w2, COUNT(*) AS c_ab FROM b GROUP BY 1, 2
         |       HAVING COUNT(*) >= 5)
         |SELECT ab.w1, ab.w2, c_ab,
         |  ROUND(ln(CAST(c_ab * nn AS DOUBLE)
         |    / CAST(c1.ca * c2.cb AS DOUBLE)), 6) AS pmi
         |FROM ab JOIN c1 ON c1.w = ab.w1 JOIN c2 ON c2.w = ab.w2, n
         |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin),

    // ZIPF SLOPE + HEAPS COUNTS per source — the corpus-health statistics
    // a curation pipeline checks before trusting a crawl slice: natural
    // text follows Zipf (ln-freq vs ln-rank slope ≈ −1); generated or
    // boilerplate-heavy slices flatten or steepen it, and type/token
    // counts expose template bloat. The OLS fit over the top-100 ranks
    // runs ENTIRELY in exact int64 micro-units: each ln is 6-dp-rounded
    // THROUGH a decimal (never round(x,6)*1e6 on the raw double — the
    // *1e6 product can land a hair under the integer and truncate
    // differently per engine), products and sums stay in int64 (bounds:
    // x6 ≤ ln(100)·1e6 ≈ 4.6e6, y6 ≤ ln(n)·1e6, Σxy ≤ 100·6e13), and the
    // slope is ONE division of two exactly-computed int64s — int64→double
    // conversion is the same round-to-nearest on every engine. Scale
    // shape: the word-count aggregate is vocab-bounded; the rank window
    // partitions by source over the vocab frame, never the corpus.
    QuerySpec("tx38_zipf_heaps", (s, dir) => {
      val wc = fanout(docs(s, dir))
        .select(col("source"), explode(expr(tokExpr)).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      val stats = wc.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"))
      val rw = Window.partitionBy(col("source"))
        .orderBy(col("c").desc, col("w"))
      val xy = wc.withColumn("rank", row_number().over(rw).cast("long"))
        .filter(col("rank") <= 100)
        .withColumn("x6", expr("cast(cast(round(ln(cast(rank as double)), 6)" +
          " as decimal(18,6)) * 1000000 as bigint)"))
        .withColumn("y6", expr("cast(cast(round(ln(cast(c as double)), 6)" +
          " as decimal(18,6)) * 1000000 as bigint)"))
      val fit = xy.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("x6")).as("sx"),
          sum(col("y6")).as("sy"), sum(col("x6") * col("y6")).as("sxy"),
          sum(col("x6") * col("x6")).as("sxx"))
        .withColumn("zipf_slope",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      stats.join(fit.select(col("source"), col("zipf_slope")), Seq("source"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          col("zipf_slope"))
        .orderBy(col("source"))
    },
      // the same exact-int64 OLS kernel: 6-dp ln pinned through a decimal
      // into micro-units, int64 sums (CAST per the typed-sum rule), one
      // final division of two exact int64s
      s"""WITH wc AS (
         |  SELECT source, w, COUNT(*) AS c FROM (
         |    SELECT source, unnest($dTok) AS w FROM documents)
         |  GROUP BY 1, 2),
         |stats AS (
         |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |    COUNT(*) AS n_types
         |  FROM wc GROUP BY 1),
         |top AS (SELECT * FROM (
         |    SELECT source, w, c,
         |      CAST(ROW_NUMBER() OVER (PARTITION BY source
         |        ORDER BY c DESC, w) AS BIGINT) AS rank
         |    FROM wc) WHERE rank <= 100),
         |xy AS (
         |  SELECT source,
         |    CAST(CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6))
         |      * 1000000 AS BIGINT) AS x6,
         |    CAST(CAST(round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6))
         |      * 1000000 AS BIGINT) AS y6
         |  FROM top),
         |fit AS (
         |  SELECT source, COUNT(*) AS n,
         |    CAST(SUM(x6) AS BIGINT) AS sx, CAST(SUM(y6) AS BIGINT) AS sy,
         |    CAST(SUM(x6 * y6) AS BIGINT) AS sxy,
         |    CAST(SUM(x6 * x6) AS BIGINT) AS sxx
         |  FROM xy GROUP BY 1)
         |SELECT s.source, s.n_tokens, s.n_types,
         |  CAST(n * sxy - sx * sy AS DOUBLE)
         |    / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope
         |FROM stats s JOIN fit USING (source)
         |ORDER BY source""".stripMargin),

    // TRANSITIVE-CLOSURE dedup groups — the shippable corpus-dedup verdict.
    // tx11's single-hop pass keeps doc C of a chain A~B~C when A,C share no
    // band; here the tx05 candidate-pair graph is collapsed to connected
    // components by iterated min-label propagation (ConnectedComponents), so
    // every doc maps to the minimum id reachable through ANY chain of LSH
    // near-dup links. Cost: the tx05 pair pipeline + 2-3 label iterations of
    // two vertex-keyed shuffles each over the (tiny) vertex frame.
    QuerySpec("tx14_dedup_groups", (s, dir) => {
      val bd = bandSignatures(fanout(docs(s, dir)), shingleWords = 3)
      val a = bd.select(col("b"), col("band_sig"), col("doc_id").as("doc_a"))
      val c = bd.select(col("b"), col("band_sig"), col("doc_id").as("doc_b"))
      val pairs = a.join(c, Seq("b", "band_sig"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .distinct()
      val comp = graft.operators.ConnectedComponents.minLabel(pairs)
      docs(s, dir).select(col("doc_id"))
        .join(comp.select(col("id").as("doc_id"), col("label")), Seq("doc_id"), "left")
        .withColumn("canonical_id", coalesce(col("label"), col("doc_id")))
        .withColumn("is_kept", col("canonical_id") === col("doc_id"))
        .select(col("doc_id"), col("canonical_id"), col("is_kept"))
        .orderBy(col("doc_id"))
    },
      // same band/pair pipeline as tx05, then min-reachable-id per vertex via
      // a recursive CTE — DuckDB's semi-naive evaluation of the same fixpoint
      // the Spark side iterates explicitly
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $dTok AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
         |  FROM toks WHERE len(tk) >= 3),
         |hs AS (
         |  SELECT doc_id, j, MIN(md5(j::VARCHAR || ':' || shingle)) AS sig
         |  FROM sh, range(0, 16) t(j) GROUP BY doc_id, j),
         |bd AS (
         |  SELECT doc_id, j // 4 AS b,
         |    md5(string_agg(lpad(j::VARCHAR, 2, '0') || ':' || sig, '|'
         |        ORDER BY lpad(j::VARCHAR, 2, '0') || ':' || sig)) AS band_sig
         |  FROM hs GROUP BY doc_id, j // 4),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS src, c.doc_id AS dst
         |  FROM bd a JOIN bd c ON a.b = c.b AND a.band_sig = c.band_sig
         |    AND a.doc_id < c.doc_id),
         |sym AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT s.src, reach.r FROM sym s JOIN reach ON s.dst = reach.id),
         |comp AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id)
         |SELECT d.doc_id, COALESCE(comp.label, d.doc_id) AS canonical_id,
         |  COALESCE(comp.label, d.doc_id) = d.doc_id AS is_kept
         |FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // DEDUP CLUSTER-SIZE DISTRIBUTION — the REPORT a dedup run ships
    // with (how much is duplicated, and in what shape: a histogram
    // dominated by giant clusters means boilerplate; a long singleton
    // tail means a clean corpus). tx14's component assignment rolled up
    // twice: per-cluster size, then per-size (n_clusters, n_docs).
    // Scale shape: tx14's pipeline + two tiny hash aggregates (bounded
    // by |clusters| then by |distinct sizes|).
    QuerySpec("tx34_dedup_cluster_stats", (s, dir) => {
      val bd = bandSignatures(fanout(docs(s, dir)), shingleWords = 3)
      val a = bd.select(col("b"), col("band_sig"), col("doc_id").as("doc_a"))
      val c = bd.select(col("b"), col("band_sig"), col("doc_id").as("doc_b"))
      val pairs = a.join(c, Seq("b", "band_sig"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .distinct()
      val comp = graft.operators.ConnectedComponents.minLabel(pairs)
      docs(s, dir).select(col("doc_id"))
        .join(comp.select(col("id").as("doc_id"), col("label")), Seq("doc_id"), "left")
        .withColumn("canonical_id", coalesce(col("label"), col("doc_id")))
        .groupBy(col("canonical_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .orderBy(col("cluster_size"))
    },
      // tx14's component replay rolled up to the size histogram
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $dTok AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
         |  FROM toks WHERE len(tk) >= 3),
         |hs AS (
         |  SELECT doc_id, j, MIN(md5(j::VARCHAR || ':' || shingle)) AS sig
         |  FROM sh, range(0, 16) t(j) GROUP BY doc_id, j),
         |bd AS (
         |  SELECT doc_id, j // 4 AS b,
         |    md5(string_agg(lpad(j::VARCHAR, 2, '0') || ':' || sig, '|'
         |        ORDER BY lpad(j::VARCHAR, 2, '0') || ':' || sig)) AS band_sig
         |  FROM hs GROUP BY doc_id, j // 4),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS src, c.doc_id AS dst
         |  FROM bd a JOIN bd c ON a.b = c.b AND a.band_sig = c.band_sig
         |    AND a.doc_id < c.doc_id),
         |sym AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT s.src, reach.r FROM sym s JOIN reach ON s.dst = reach.id),
         |comp AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
         |sizes AS (
         |  SELECT COALESCE(comp.label, d.doc_id) AS canonical_id,
         |    COUNT(*) AS cluster_size
         |  FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
         |  GROUP BY canonical_id)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         |  cluster_size * COUNT(*) AS n_docs
         |FROM sizes GROUP BY cluster_size
         |ORDER BY cluster_size""".stripMargin),

    // CONTAINMENT dedup — the ASYMMETRIC near-dup detector symmetric
    // Jaccard misses: a short doc pasted inside a long one scores
    // C(A,B) = |sh(A)∩sh(B)| / |sh(A)| ≈ 1 while its Jaccard stays tiny
    // (the |A∪B| denominator is dominated by the long doc). Defined over
    // DF-CAPPED shingles (df ≤ 50): common boilerplate shingles carry no
    // containment evidence and capping them is exactly what bounds the
    // scale shape — the inverted-index self-join fans out ≤ C(50,2)
    // pairs per shingle, so pair generation is one shingle-keyed shuffle,
    // linear in corpus tokens, NEVER all-pairs (tx06 now rides the same
    // inverted-index join over its id sample). Intersections
    // arrive as pair-keyed counts from one groupBy; sizes join back on
    // doc id. Both containment directions are checked; pairs at ≥ 0.5
    // in either direction are reported.
    QuerySpec("tx35_containment_dedup", (s, dir) => {
      val sh = fanout(docs(s, dir))
        .selectExpr("doc_id", s"$tokExpr AS tk")
        .where(expr("size(tk) >= 3"))
        .selectExpr("doc_id",
          "explode(array_distinct(transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2))))) AS sh")
      val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      val rare = sh.join(dfreq.filter(col("df") <= 50), Seq("sh"))
        .select(col("doc_id"), col("sh"))
      val sizes = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      rare.select(col("sh"), col("doc_id").as("doc_a"))
        .join(rare.select(col("sh"), col("doc_id").as("doc_b")), Seq("sh"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_inter"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
          Seq("doc_b"))
        // unrounded integer-ratio divisions (tx06 discipline): identical
        // IEEE doubles on any engine, no round-on-quotient hazard
        .withColumn("containment", greatest(
          col("n_inter").cast("double") / col("n_a"),
          col("n_inter").cast("double") / col("n_b")))
        .filter(col("containment") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
          col("n_b"), col("containment"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // full replay of the df-capped containment pipeline: same shingles,
      // same df ≤ 50 cap, same pair counts, same IEEE divisions
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    unnest(list_distinct(list_transform(range(1, len(tk) - 1),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |  FROM (SELECT doc_id, $dTok AS tk FROM documents)
         |  WHERE len(tk) >= 3),
         |df AS (SELECT s, COUNT(*) AS d FROM sh GROUP BY s),
         |rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s)
         |         WHERE d <= 50),
         |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM rare GROUP BY doc_id),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |  FROM rare a JOIN rare b USING (s) WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
         |  greatest(CAST(n_inter AS DOUBLE) / sa.n_sh,
         |           CAST(n_inter AS DOUBLE) / sb.n_sh) AS containment
         |FROM p
         |JOIN sz sa ON sa.doc_id = doc_a
         |JOIN sz sb ON sb.doc_id = doc_b
         |WHERE greatest(CAST(n_inter AS DOUBLE) / sa.n_sh,
         |               CAST(n_inter AS DOUBLE) / sb.n_sh) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin),

    // LEAKAGE-FREE train/test split: assigning raw doc ids to splits leaks
    // whenever two near-duplicates straddle the boundary (the
    // memorize-train/score-test contamination Lee et al. 2021 measure) —
    // the correct split UNIT is the near-dup COMPONENT. tx14's
    // ConnectedComponents label becomes the unit; the 90/10 assignment is
    // the tx20 reproducible-hash discipline on the COMPONENT id, so every
    // member of a dup cluster lands on the same side by construction.
    // Scale: tx14's pipeline + one map-side hash — no new shuffles.
    QuerySpec("tx33_leakage_free_split", (s, dir) => {
      val bd = bandSignatures(fanout(docs(s, dir)), shingleWords = 3)
      val a = bd.select(col("b"), col("band_sig"), col("doc_id").as("doc_a"))
      val c = bd.select(col("b"), col("band_sig"), col("doc_id").as("doc_b"))
      val pairs = a.join(c, Seq("b", "band_sig"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .distinct()
      val comp = graft.operators.ConnectedComponents.minLabel(pairs)
      docs(s, dir).select(col("doc_id"))
        .join(comp.select(col("id").as("doc_id"), col("label")), Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("label"), col("doc_id")))
        .withColumn("split",
          when(expr("cast(conv(substr(md5(cast(concat('split:', component) as binary)), 1, 2), 16, 10) as int) % 10 < 9"),
            "train").otherwise("test"))
        .select(col("doc_id"), col("component"), col("split"))
        .orderBy(col("doc_id"))
    },
      // tx14's component replay + the split-hash assignment on the
      // component id — same-cluster-same-side falls out arithmetically
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $dTok AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
         |  FROM toks WHERE len(tk) >= 3),
         |hs AS (
         |  SELECT doc_id, j, MIN(md5(j::VARCHAR || ':' || shingle)) AS sig
         |  FROM sh, range(0, 16) t(j) GROUP BY doc_id, j),
         |bd AS (
         |  SELECT doc_id, j // 4 AS b,
         |    md5(string_agg(lpad(j::VARCHAR, 2, '0') || ':' || sig, '|'
         |        ORDER BY lpad(j::VARCHAR, 2, '0') || ':' || sig)) AS band_sig
         |  FROM hs GROUP BY doc_id, j // 4),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS src, c.doc_id AS dst
         |  FROM bd a JOIN bd c ON a.b = c.b AND a.band_sig = c.band_sig
         |    AND a.doc_id < c.doc_id),
         |sym AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT s.src, reach.r FROM sym s JOIN reach ON s.dst = reach.id),
         |comp AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
         |asg AS (
         |  SELECT d.doc_id, COALESCE(comp.label, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp ON comp.id = d.doc_id)
         |SELECT doc_id, component,
         |  CASE WHEN ((strpos('0123456789abcdef',
         |      substr(md5('split:' || component), 1, 1)) - 1) * 16
         |    + (strpos('0123456789abcdef',
         |      substr(md5('split:' || component), 2, 1)) - 1)) % 10 < 9
         |  THEN 'train' ELSE 'test' END AS split
         |FROM asg ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition quality signal: the duplicate-3-gram fraction
    // per document (1 - distinct/total shingles). High values mean looping
    // or boilerplate text — a standard drop rule in LLM-corpus filtering.
    // Narrow per-row work + no shuffle before the final sort.
    QuerySpec("tx12_repetition", (s, dir) =>
      fanout(docs(s, dir))
        .selectExpr("doc_id", s"$tokExpr AS tk")
        .where(expr("size(tk) >= 3"))
        .selectExpr("doc_id",
          "transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2))) AS sh")
        .selectExpr("doc_id",
          "cast(size(sh) as long) AS n_shingles",
          "cast(size(array_distinct(sh)) as long) AS n_distinct")
        .withColumn("rep_ratio",
          // unrounded: 1.0 − p/q over identical doubles is deterministic
          // cross-engine; the round was the ts29-class half-way hazard
          lit(1.0) - col("n_distinct").cast("double") / col("n_shingles"))
        .withColumn("drop_repetitive", col("rep_ratio") > 0.2)
        .orderBy(col("doc_id")),
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sh
         |  FROM (SELECT doc_id, $dTok AS tk FROM documents) WHERE len(tk) >= 3)
         |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
         |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
         |  1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) AS rep_ratio,
         |  (1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)) > 0.2 AS drop_repetitive
         |FROM sh ORDER BY doc_id""".stripMargin),

    // PII redaction pass: scrub email / phone / IPv4 patterns and count
    // redactions. The fixture corpus is synthetic, so deterministic PII is
    // INJECTED first (every 7th doc gains an email, every 11th a phone,
    // every 13th an IP) — the operator under test is the scrubber itself,
    // and the oracle replays injection + scrub.
    QuerySpec("tx13_pii_scrub", (s, dir) => {
      val emailRe = "[a-z0-9._]+@[a-z0-9-]+\\\\.[a-z]{2,}"
      val phoneRe = "\\\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val ipRe = "[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}"
      fanout(docs(s, dir))
        .selectExpr("doc_id",
          """concat(text,
            |  CASE WHEN doc_id % 7 = 0 THEN concat(' contact user', doc_id, '@example.com') ELSE '' END,
            |  CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-867-5309' ELSE '' END,
            |  CASE WHEN doc_id % 13 = 0 THEN ' host 10.0.0.7' ELSE '' END) AS raw""".stripMargin)
        .selectExpr("doc_id", "raw",
          s"regexp_replace(regexp_replace(regexp_replace(raw, '$emailRe', '<EMAIL>'), '$phoneRe', '<PHONE>'), '$ipRe', '<IP>') AS clean")
        .selectExpr("doc_id",
          "cast((length(clean) - length(replace(clean, '<EMAIL>', ''))) div 7 as long) AS n_email",
          "cast((length(clean) - length(replace(clean, '<PHONE>', ''))) div 7 as long) AS n_phone",
          "cast((length(clean) - length(replace(clean, '<IP>', ''))) div 4 as long) AS n_ip",
          "md5(cast(clean as binary)) AS clean_md5")
        .orderBy(col("doc_id"))
    },
      raw"""WITH r AS (
           |  SELECT doc_id, text ||
           |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
           |    CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-867-5309' ELSE '' END ||
           |    CASE WHEN doc_id % 13 = 0 THEN ' host 10.0.0.7' ELSE '' END AS raw
           |  FROM documents),
           |c AS (
           |  SELECT doc_id,
           |    regexp_replace(regexp_replace(regexp_replace(raw,
           |      '[a-z0-9._]+@[a-z0-9-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
           |      '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
           |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS clean
           |  FROM r)
           |SELECT doc_id,
           |  CAST((length(clean) - length(replace(clean, '<EMAIL>', ''))) // 7 AS BIGINT) AS n_email,
           |  CAST((length(clean) - length(replace(clean, '<PHONE>', ''))) // 7 AS BIGINT) AS n_phone,
           |  CAST((length(clean) - length(replace(clean, '<IP>', ''))) // 4 AS BIGINT) AS n_ip,
           |  md5(clean) AS clean_md5
           |FROM c ORDER BY doc_id""".stripMargin),

    // Approximate token frequency via a COUNT-MIN SKETCH, expressed
    // relationally: d=4 hash rows × w=256 buckets. Each token occurrence
    // emits its 4 (seed, bucket) cells map-side (bucket = first byte of
    // md5(seed:token), explicit named_structs — codegen'd, no interpreted
    // HOF on the hot path); the sketch is ONE groupBy over a key domain
    // bounded at d×w = 1024 cells, so partial aggregation collapses any
    // corpus to 1024 rows per task before the shuffle. That bounded state
    // is the 100 TB story: exact vocabulary counting shuffles |vocab| keys
    // (billions for web corpora), the sketch shuffles 1024 regardless.
    // Estimates are min over the 4 cells (never under-counts; over-counts
    // by collision mass). The top-20-by-exact comparison side is the
    // accuracy diagnostic: both engines build the identical sketch, so
    // n_est and overcount hash-match exactly.
    QuerySpec("tx15_cms_heavy_hitters", (s, dir) => {
      val toks = fanout(docs(s, dir)).select(explode(expr(tokExpr)).as("token"))
      val cellStructs = (0 until 4).map(j =>
        s"named_struct('seed', $j, 'bucket', cast(conv(substr(md5(cast(concat('$j', ':', token) as binary)), 1, 2), 16, 10) as int))")
        .mkString(", ")
      val cells = toks
        .selectExpr(s"inline(array($cellStructs))")
        .groupBy(col("seed"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
      // top-k by exact count: orderBy+limit plans TakeOrderedAndProject
      // (per-partition top-k, no global sort); the row_number below then
      // ranks a 20-row local frame
      val top = exact.orderBy(col("n_exact").desc, col("token")).limit(20)
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n_exact").desc, col("token"))).cast("long"))
      top.selectExpr("rnk", "token", "n_exact", s"inline(array($cellStructs))")
        .join(broadcast(cells), Seq("seed", "bucket"))
        .groupBy(col("rnk"), col("token"), col("n_exact"))
        .agg(min(col("cnt")).as("n_est"))
        .withColumn("overcount", (col("n_est") - col("n_exact")).cast("long"))
        .select(col("rnk"), col("token"), col("n_exact"), col("n_est"),
          col("overcount"))
        .orderBy(col("rnk"))
    },
      // identical count-min sketch replay: same md5-derived (seed, bucket)
      // cells (bucket = first md5 byte via nibble arithmetic), same min-over-
      // rows estimate, so n_est/overcount match the engine bit-for-bit
      s"""WITH toks AS (SELECT unnest($dTok) AS token FROM documents),
         |cell AS (
         |  SELECT j::VARCHAR AS js, md5(j::VARCHAR || ':' || token) AS h
         |  FROM toks, range(0, 4) t(j)),
         |cells AS (
         |  SELECT js, 16 * (strpos('0123456789abcdef', substr(h, 1, 1)) - 1)
         |            + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
         |    COUNT(*) AS cnt
         |  FROM cell GROUP BY 1, 2),
         |exact AS (SELECT token, COUNT(*) AS n_exact FROM toks GROUP BY token),
         |top AS (SELECT token, n_exact,
         |    ROW_NUMBER() OVER (ORDER BY n_exact DESC, token) AS rnk
         |  FROM exact ORDER BY n_exact DESC, token LIMIT 20),
         |probe AS (
         |  SELECT rnk, token, n_exact, j::VARCHAR AS js,
         |    md5(j::VARCHAR || ':' || token) AS h
         |  FROM top, range(0, 4) t(j)),
         |est AS (
         |  SELECT rnk, token, n_exact, MIN(cnt) AS n_est
         |  FROM (SELECT rnk, token, n_exact, js,
         |          16 * (strpos('0123456789abcdef', substr(h, 1, 1)) - 1)
         |          + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket
         |        FROM probe) p
         |  JOIN cells USING (js, bucket)
         |  GROUP BY rnk, token, n_exact)
         |SELECT CAST(rnk AS BIGINT) AS rnk, token, n_exact, n_est,
         |  n_est - n_exact AS overcount
         |FROM est ORDER BY rnk""".stripMargin),

    // TF-IDF keyword extraction — the classic corpus-statistics text op:
    // tf = in-doc term count, idf = ln(N/df), top-3 terms per doc by
    // tf·idf (ties to the lexicographically first term). Pipeline shape at
    // 100 TB: ONE (doc_id, token)-keyed hash aggregate builds tf (map-side
    // partial combine collapses repeats before the shuffle); df is a second
    // aggregate over the already-|doc×distinct-token|-sized tf frame keyed
    // on token; the tf⋈df join shuffles on token (vocab-sized, far below
    // corpus-sized — broadcast instead if the vocab is capped); the final
    // per-doc top-3 is one window on doc_id. Nothing ever carries text
    // payloads past the first explode. Numerics: idf's ln sees the exact
    // IEEE quotient N/df (≤ |docs| distinct inputs) and tf·idf is rounded
    // at 6 dp before ranking, so both engines rank identically.
    QuerySpec("tx16_tfidf_keywords", (s, dir) => {
      val tf = fanout(docs(s, dir))
        .select(col("doc_id"), explode(expr(tokExpr)).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val n = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
      val dfr = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token"))
      tf.join(dfr, "token")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf").cast("double") *
            log(col("n_docs").cast("double") / col("df").cast("double")), 6))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("token"), col("tfidf"))
        .orderBy(col("doc_id"), col("rnk"))
    },
      s"""WITH tf AS (
         |  SELECT doc_id, tok AS token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($dTok) AS tok FROM documents)
         |  WHERE tok <> '' GROUP BY doc_id, tok),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
         |dfr AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         |x AS (
         |  SELECT tf.doc_id, tf.token,
         |    ROUND(CAST(tf.tf AS DOUBLE)
         |      * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
         |  FROM tf JOIN dfr USING (token), n),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |        ORDER BY tfidf DESC, token) AS rnk FROM x)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, token, tfidf
         |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),

    // Corpus-level boilerplate detection (the CCNet/RefinedWeb paragraph-
    // dedup shape, adapted to newline-free text): documents are cut into
    // NON-overlapping 10-token chunks, chunk frequency is counted across
    // the whole corpus, and each doc reports how much of it is made of
    // chunks that also appear in at least one OTHER document — the signal
    // used to strip headers/footers/navigation from crawl data.
    // Scale shape: the global frequency shuffle carries (md5, doc_id) pairs
    // only — 48 bytes/chunk regardless of chunk text — keyed on a uniform
    // 128-bit hash (no skew); the re-join probes the SAME exchange (AQE
    // reuse), and the per-doc rollup is one partial+final hash aggregate
    // on doc_id. Nothing is ever O(corpus²).
    QuerySpec("tx17_boilerplate_chunks", (s, dir) => {
      val chunks = fanout(docs(s, dir))
        .selectExpr("doc_id", s"$tokExpr AS tk")
        // guard before sequence(): Spark's sequence(1, 0) steps DOWN
        .where(expr("size(tk) >= 10"))
        .selectExpr("doc_id",
          """explode(transform(sequence(1, size(tk) div 10),
            |  i -> md5(cast(concat_ws(' ', slice(tk, (i-1)*10 + 1, 10)) as binary)))) AS ch""".stripMargin)
      val freq = chunks.groupBy(col("ch"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
      val per = chunks.join(freq, "ch")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("dup_chunks"))
      docs(s, dir).select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
          coalesce(col("dup_chunks"), lit(0L)).as("dup_chunks"),
          // exact-long division: one IEEE op, bit-identical on both engines
          (coalesce(col("dup_chunks"), lit(0L)).cast("double") /
            greatest(coalesce(col("n_chunks"), lit(0L)), lit(1L)).cast("double"))
            .as("dup_frac"))
        .orderBy(col("doc_id"))
    },
      s"""WITH tk AS (SELECT doc_id, $dTok AS tk FROM documents),
         |i0 AS (SELECT doc_id, tk,
         |         unnest(generate_series(1, len(tk) // 10)) AS i FROM tk),
         |ch AS (SELECT doc_id,
         |         md5(array_to_string(tk[(i-1)*10+1 : (i-1)*10+10], ' ')) AS ch
         |       FROM i0),
         |freq AS (SELECT ch, COUNT(DISTINCT doc_id) AS ndocs FROM ch GROUP BY ch),
         |per AS (SELECT c.doc_id, COUNT(*) AS n_chunks,
         |          SUM(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS dup_chunks
         |        FROM ch c JOIN freq f ON c.ch = f.ch GROUP BY c.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(n_chunks, 0) AS BIGINT) AS n_chunks,
         |  CAST(COALESCE(dup_chunks, 0) AS BIGINT) AS dup_chunks,
         |  CAST(COALESCE(dup_chunks, 0) AS DOUBLE)
         |    / CAST(greatest(COALESCE(n_chunks, 0), 1) AS DOUBLE) AS dup_frac
         |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id""".stripMargin),

    // Benchmark decontamination (the PaLM/GPT-3 eval-overlap rule): a doc
    // is flagged when ≥5% of its sliding 8-token n-grams appear in the
    // benchmark set. Benchmark here = the deterministic 5% slice
    // doc_id % 20 = 0 (standing in for an eval suite — chosen so the
    // fixture's near-dup pairs actually straddle the split and the overlap
    // counts are non-degenerate); scan side = all
    // other docs. Scale shape: real benchmark suites are tiny and FIXED,
    // so the gram set is distinct-reduced then BROADCAST — the scan side's
    // grams never shuffle at all (map-side probe + partial per-doc counts);
    // the only exchange is the final per-doc rollup on doc_id. This is the
    // decontamination plan that survives 100 TB: corpus-side work is
    // embarrassingly parallel, benchmark-side state is O(eval suite).
    QuerySpec("tx18_decontaminate", (s, dir) => {
      val grams = fanout(docs(s, dir))
        .selectExpr("doc_id", s"$tokExpr AS tk")
        .where(expr("size(tk) >= 8"))
        .selectExpr("doc_id",
          """explode(transform(sequence(1, size(tk) - 7),
            |  i -> md5(cast(concat_ws(' ', slice(tk, i, 8)) as binary)))) AS g""".stripMargin)
      val bench = grams.filter(col("doc_id") % 20 === 0)
        .select(col("g")).distinct().withColumn("hit", lit(1L))
      val per = grams.filter(col("doc_id") % 20 =!= 0)
        .join(broadcast(bench), Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("contaminated"))
      docs(s, dir).filter(col("doc_id") % 20 =!= 0).select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("contaminated"), lit(0L)).as("contaminated"),
          (coalesce(col("contaminated"), lit(0L)).cast("double") /
            greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)).cast("double")
            >= 0.05).as("flagged"))
        .orderBy(col("doc_id"))
    },
      s"""WITH tk AS (SELECT doc_id, $dTok AS tk FROM documents),
         |i0 AS (SELECT doc_id, tk,
         |         unnest(generate_series(1, len(tk) - 7)) AS i
         |       FROM tk WHERE len(tk) >= 8),
         |g AS (SELECT doc_id,
         |        md5(array_to_string(tk[i : i+7], ' ')) AS g
         |      FROM i0),
         |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 0),
         |per AS (SELECT s.doc_id, COUNT(*) AS n_grams,
         |          SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS contaminated
         |        FROM (SELECT * FROM g WHERE doc_id % 20 <> 0) s
         |        LEFT JOIN bench b ON s.g = b.g GROUP BY s.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(COALESCE(contaminated, 0) AS BIGINT) AS contaminated,
         |  CAST(COALESCE(contaminated, 0) AS DOUBLE)
         |    / CAST(greatest(COALESCE(n_grams, 0), 1) AS DOUBLE) >= 0.05 AS flagged
         |FROM documents d LEFT JOIN per USING (doc_id)
         |WHERE d.doc_id % 20 <> 0 ORDER BY d.doc_id""".stripMargin),

    // GPT-style training-sequence packing (concat-and-chunk): documents are
    // concatenated in doc_id order into one token stream and cut into fixed
    // 512-token training sequences; each doc reports its stream offset, the
    // sequences it lands in, and whether it straddles a boundary — the
    // attention-masking question every packing pipeline must answer.
    // Scale shape: the global running offset is NOT a `Window.orderBy(doc_id)`
    // over the corpus (that funnels everything through one partition) — it
    // is a two-level distributed prefix sum: per-bucket token subtotals
    // (a frame with |corpus|/64 rows) take the single-partition cumulative
    // window where it is cheap, then come back as broadcast base offsets
    // and the within-bucket running sum is window-partitioned by bucket,
    // fully parallel. One narrow shuffle + one broadcast total.
    QuerySpec("tx19_pack_sequences", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
        .selectExpr("doc_id", s"cast(size($tokExpr) as bigint) AS n_tok",
          "doc_id div 64 AS bucket")
      val wB = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val base = d.groupBy(col("bucket")).agg(sum(col("n_tok")).as("btok"))
        .withColumn("base", coalesce(sum(col("btok")).over(wB), lit(0L)))
        .select(col("bucket"), col("base"))
      val wIn = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      d.join(broadcast(base), "bucket")
        .withColumn("tok_offset",
          col("base") + coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
        .selectExpr("doc_id", "n_tok", "tok_offset",
          "tok_offset div 512 AS seq_first",
          "(tok_offset + n_tok - 1) div 512 AS seq_last",
          "(tok_offset + n_tok - 1) div 512 - tok_offset div 512 + 1 AS n_seqs",
          "(tok_offset + n_tok - 1) div 512 > tok_offset div 512 AS crosses_seq")
        .orderBy(col("doc_id"))
    },
      s"""WITH d AS (SELECT doc_id, len($dTok) AS n_tok FROM documents),
         |o AS (SELECT doc_id, n_tok,
         |  COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
         |  FROM d)
         |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         |  CAST(tok_offset AS BIGINT) AS tok_offset,
         |  CAST(tok_offset // 512 AS BIGINT) AS seq_first,
         |  CAST((tok_offset + n_tok - 1) // 512 AS BIGINT) AS seq_last,
         |  CAST((tok_offset + n_tok - 1) // 512 - tok_offset // 512 + 1 AS BIGINT)
         |    AS n_seqs,
         |  (tok_offset + n_tok - 1) // 512 > tok_offset // 512 AS crosses_seq
         |FROM o ORDER BY doc_id""".stripMargin),

    // Deterministic stratified sampling for training-mixture construction
    // (the Pile/ROOTS per-source weighting): each language stratum gets a
    // target rate and a doc is kept iff the first 8 hex chars of
    // md5(doc_id) fall under the stratum's threshold. Pure map-side
    // predicate — reproducible across engines/runs/retries (no RNG state),
    // zero shuffle, and at 100 TB it composes with any scan since it only
    // needs the key and stratum columns. Thresholds are hex-string
    // compares: md5 is lowercase fixed-width, so lexicographic == numeric.
    QuerySpec("tx20_stratified_sample", (s, dir) =>
      docs(s, dir)
        .withColumn("skey",
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8))
        .withColumn("thr",
          when(col("lang") === "en", lit("40000000"))    // rate 0.25
            .when(col("lang") === "zh", lit("c0000000")) // rate 0.75
            .otherwise(lit("80000000")))                 // rate 0.50
        .filter(col("skey") < col("thr"))
        .select(col("doc_id"), col("lang"), col("skey"))
        .orderBy(col("doc_id")),
      """WITH d AS (SELECT doc_id, lang,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS skey FROM documents)
        |SELECT doc_id, lang, skey FROM d
        |WHERE skey < CASE WHEN lang = 'en' THEN '40000000'
        |                  WHEN lang = 'zh' THEN 'c0000000'
        |                  ELSE '80000000' END
        |ORDER BY doc_id""".stripMargin),

    // Unigram log-probability scoring — the PERPLEXITY FILTER of LLM data
    // curation (CCNet/Gopher-style: drop documents whose tokens are
    // improbable under a corpus language model; here the LM is the
    // corpus's own unigram distribution). avg_nll = −Σ tf·ln(p(tok)) / n.
    // Numerics: each per-token term is one deterministic double tree
    // (long/long division, ln, multiply) ROUNDED to 6 dp and cast to an
    // exact decimal, so the per-doc sum is order-independent under any
    // partitioning — the oracle replays the identical terms. Scale shape:
    // token frequencies are one hash agg; the corpus total is a 1-row
    // broadcast; the per-doc rollup is a second hash agg on doc_id. The
    // tf frame is computed once and reused for both the LM and the scan.
    QuerySpec("tx21_unigram_logprob", (s, dir) => {
      val tf = fanout(docs(s, dir))
        .select(col("doc_id"), explode(expr(tokExpr)).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val freq = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
      val total = freq.agg(sum(col("cnt")).as("total"))
      tf.join(freq, "token")
        .crossJoin(broadcast(total))
        .withColumn("term",
          round(col("tf").cast("double") *
            log(col("cnt").cast("double") / col("total").cast("double")), 6)
            .cast("decimal(18,6)"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tok"), sum(col("term")).as("sum_term"))
        .select(col("doc_id"), col("n_tok"),
          // unrounded: sum_term is an exact DECIMAL(18,6), so the single
          // IEEE division is identical cross-engine; rounding it risked
          // the ts29 half-way class for v₂-aligned token counts
          (-col("sum_term").cast("double") / col("n_tok").cast("double"))
            .as("avg_nll"))
        .withColumn("flagged", col("avg_nll") >= 8.0)
        .orderBy(col("doc_id"))
    },
      s"""WITH tf AS (
         |  SELECT doc_id, tok AS token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($dTok) AS tok FROM documents)
         |  WHERE tok <> '' GROUP BY doc_id, tok),
         |freq AS (SELECT token, SUM(tf) AS cnt FROM tf GROUP BY token),
         |tot AS (SELECT SUM(cnt) AS total FROM freq),
         |terms AS (
         |  SELECT tf.doc_id, tf.tf,
         |    CAST(ROUND(CAST(tf.tf AS DOUBLE) *
         |      ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 6)
         |      AS DECIMAL(18,6)) AS term
         |  FROM tf JOIN freq USING (token), tot),
         |d AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
         |    -CAST(SUM(term) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE)
         |      AS avg_nll
         |  FROM terms GROUP BY doc_id)
         |SELECT doc_id, n_tok, avg_nll, avg_nll >= 8.0 AS flagged
         |FROM d ORDER BY doc_id""".stripMargin),

    // Per-domain quota capping (crawl de-biasing: no single domain may
    // contribute more than `cap` documents; C4/RefinedWeb-style host-level
    // budgets). Which docs survive must be deterministic and
    // content-independent, so the per-domain ranking key is the same
    // md5(doc_id) hash tx20 uses — a reproducible uniform shuffle within
    // each domain. Scale shape: ONE shuffle keyed on source for the
    // ranking window. A pathological mega-domain makes that window's
    // partition hot; the 100 TB remedy keeps the same semantics — convert
    // each domain's quota to a hash threshold (cap / count, one broadcast
    // join) so the cap becomes a map-side predicate like tx20, exact up to
    // hash-uniformity instead of exactly-cap.
    QuerySpec("tx22_domain_quota", (s, dir) => {
      val w = Window.partitionBy(col("source")).orderBy(col("skey"), col("doc_id"))
      docs(s, dir)
        .withColumn("skey",
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8))
        .withColumn("qrank", row_number().over(w).cast("long"))
        .withColumn("kept", col("qrank") <= 15)
        .select(col("doc_id"), col("source"), col("skey"), col("qrank"), col("kept"))
        .orderBy(col("doc_id"))
    },
      """WITH d AS (SELECT doc_id, source,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS skey FROM documents)
        |SELECT doc_id, source, skey,
        |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS qrank,
        |  ROW_NUMBER() OVER w <= 15 AS kept
        |FROM d
        |WINDOW w AS (PARTITION BY source ORDER BY skey, doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Negative sampling for contrastive training (SimCLR/DPR-style: each
    // anchor needs k "random" negatives, but training-data builds must be
    // REPRODUCIBLE — a re-run after a failed shard cannot sample different
    // negatives): negative j of anchor d is the Knuth-hash index
    // (d·2654435761 + j·40503) mod n over the dense id domain, self-hits
    // deterministically bumped to the next id. Scale shape: n is a one-row
    // broadcast, candidate generation is a 4× map-side fan-out, and the
    // only shuffle is the equi-join that fetches each negative's payload —
    // exactly the cost of any keyed lookup. No RNG state anywhere, so
    // retries, speculative tasks and engine swaps all produce the same
    // pairs (the oracle replays the arithmetic bit-for-bit).
    QuerySpec("tx23_negative_pairs", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"))
      val n = d.agg(count(lit(1)).as("n"))
      val cands = fanout(d).crossJoin(broadcast(n))
        .withColumn("j", explode(expr("sequence(1L, 4L)")))
        .withColumn("c0",
          (col("doc_id") * lit(2654435761L) + col("j") * lit(40503L)) % col("n"))
        .withColumn("neg_id",
          when(col("c0") === col("doc_id"), (col("c0") + 1) % col("n"))
            .otherwise(col("c0")))
      cands
        .join(d.select(col("doc_id").as("neg_id"), col("source").as("neg_source")),
          "neg_id")
        .select(col("doc_id"), col("j"), col("neg_id"),
          col("source").as("anchor_source"), col("neg_source"),
          (col("source") === col("neg_source")).as("same_source"))
        .orderBy(col("doc_id"), col("j"))
    },
      // identical Knuth-hash index arithmetic — BIGINT end to end
      """WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        |c AS (
        |  SELECT d.doc_id, d.source, j,
        |    (d.doc_id * 2654435761 + j * 40503) % nn.n AS c0, nn.n AS n
        |  FROM documents d, nn, (SELECT unnest([1,2,3,4]) AS j)),
        |x AS (
        |  SELECT doc_id, source, CAST(j AS BIGINT) AS j,
        |    CASE WHEN c0 = doc_id THEN (c0 + 1) % n ELSE c0 END AS neg_id
        |  FROM c)
        |SELECT x.doc_id, x.j, x.neg_id, x.source AS anchor_source,
        |  d2.source AS neg_source, x.source = d2.source AS same_source
        |FROM x JOIN documents d2 ON d2.doc_id = x.neg_id
        |ORDER BY x.doc_id, x.j""".stripMargin),

    // Chunk-level dedup REWRITE — the C4/RefinedWeb cleanup step tx17 only
    // MEASURES: drop every repeated 10-token chunk from the corpus except
    // its global first occurrence (lowest (doc_id, idx)), and reassemble
    // each document from its surviving chunks. Unlike tx01 (whole-doc) and
    // tx11 (near-dup doc drop), this rewrites INSIDE documents — the
    // operation that strips boilerplate headers/footers at training-data
    // scale. The tail chunk (<10 tokens) participates too, so the rewrite
    // covers every token. Scale shape: chunk explode is narrow; the
    // global first-occurrence is ONE hash-keyed min-struct aggregate
    // (map-side combinable) joined back on the chunk hash; reassembly is
    // one groupBy doc_id with an array_sort — two shuffles total, both on
    // uniform md5 keys, no skew. Output length: clean_n_chars shows the
    // bytes the rewrite saves.
    QuerySpec("tx24_chunk_dedup_rewrite", (s, dir) => {
      val chunks = fanout(docs(s, dir))
        .selectExpr("doc_id", s"$tokExpr AS tk")
        .where(expr("size(tk) >= 1"))
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(1, (size(tk) + 9) div 10),
            |  i -> concat_ws(' ', slice(tk, (i-1)*10 + 1, 10)))""".stripMargin))
          .as(Seq("idx", "chunk")))
        .withColumn("h", md5(col("chunk").cast("binary")))
      val firsts = chunks.groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
      chunks.join(firsts, "h")
        .withColumn("keep",
          col("doc_id") === col("first.doc_id") && col("idx") === col("first.idx"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          concat_ws(" ", expr(
            """transform(array_sort(collect_list(
              |  CASE WHEN keep THEN struct(idx, chunk) END)), t -> t.chunk)""".stripMargin))
            .as("clean_text"))
        .withColumn("clean_n_chars", length(col("clean_text")).cast("long"))
        .orderBy(col("doc_id"))
    },
      // same 10-token chunking (incl. the tail chunk), keep = global first
      // occurrence by (doc_id, idx), reassemble in idx order
      s"""WITH tk AS (SELECT doc_id, $dTok AS tk FROM documents),
         |i0 AS (SELECT doc_id, tk,
         |         unnest(generate_series(1, (len(tk) + 9) // 10)) AS i
         |       FROM tk WHERE len(tk) >= 1),
         |ch AS (SELECT doc_id, CAST(i - 1 AS INT) AS idx,
         |         array_to_string(tk[(i-1)*10+1 : (i-1)*10+10], ' ') AS chunk
         |       FROM i0),
         |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(chunk)
         |        ORDER BY doc_id, idx) = 1 AS keep FROM ch)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  COALESCE(string_agg(chunk, ' ' ORDER BY idx) FILTER (WHERE keep),
         |           '') AS clean_text,
         |  CAST(length(COALESCE(string_agg(chunk, ' ' ORDER BY idx)
         |    FILTER (WHERE keep), '')) AS BIGINT) AS clean_n_chars
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Interpolated BIGRAM LM scoring — the step up from tx21's unigram
    // perplexity filter toward the n-gram LM filters real pipelines run
    // (CCNet/KenLM-style): every adjacent token pair is scored
    // p = λ·p(w2|w1) + (1−λ)·p(w2), λ = 0.7, with both probability tables
    // estimated from the corpus itself; a document's quality signal is the
    // average negative log-likelihood of its bigrams (repetitive/templated
    // text scores LOW nll, incoherent token soup scores HIGH). The
    // interpolation is what makes the score total: a bigram unseen under
    // w1 still backs off to the unigram term.
    //
    // Scale shape: ONE doc_id-keyed window builds the bigram stream; count
    // tables are plain hash aggregates keyed on tokens (vocab-sized);
    // attaching them back is token-keyed shuffle joins — everything linear
    // in corpus tokens, no quadratic stage, no driver state. Numerics:
    // each bigram's p is one fixed IEEE tree, ln(p) is 6-dp-rounded into
    // exact-decimal per-doc sums (tx21's discipline), so partitioning
    // can't move a hash.
    QuerySpec("tx25_bigram_logprob", (s, dir) => {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val toks = fanout(docs(s, dir))
        .select(col("doc_id"), posexplode(expr(tokExpr)).as(Seq("pos", "w1")))
        .filter(col("w1") =!= "")
      val big = toks.withColumn("w2", lead(col("w1"), 1).over(w))
        .filter(col("w2").isNotNull)
        .select(col("doc_id"), col("w1"), col("w2"))
      val bc = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bc"))
      val pc = bc.groupBy(col("w1")).agg(sum(col("bc")).as("pc"))
      val uc = toks.groupBy(col("w1").as("w2u")).agg(count(lit(1)).as("uc"))
      val tot = uc.agg(sum(col("uc")).as("total"))
      big.join(bc, Seq("w1", "w2"))
        .join(pc, Seq("w1"))
        .join(uc, col("w2") === col("w2u"))
        .crossJoin(broadcast(tot))
        .withColumn("p",
          lit(0.7) * (col("bc").cast("double") / col("pc").cast("double"))
            + lit(0.3) * (col("uc").cast("double") / col("total").cast("double")))
        .withColumn("term", round(log(col("p")), 6).cast("decimal(18,6)"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("term")).as("sum_term"))
        // the final mean is computed in exact INTEGER micro-nats with
        // explicit half-up rounding: sum_term/n lands on 7th-decimal
        // half-way points where the engines' double round() disagrees
        // (observed on this corpus — the v14 rounding law)
        .withColumn("x", (-col("sum_term") * lit(1000000)).cast("long"))
        .withColumn("avg_micro",
          expr("(2 * x + n_bigrams) div (2 * n_bigrams)"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("avg_micro").cast("double") / 1000000.0).as("avg_nll"))
        .withColumn("flagged", col("avg_nll") >= 3.5)
        .orderBy(col("doc_id"))
    },
      s"""WITH toks AS (
         |  SELECT doc_id, pos, w1 FROM (
         |    SELECT doc_id, unnest(arr) AS w1, generate_subscripts(arr, 1) AS pos
         |    FROM (SELECT doc_id, $dTok AS arr FROM documents))
         |  WHERE w1 <> ''),
         |b0 AS (
         |  SELECT doc_id, w1,
         |    lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |  FROM toks),
         |b2 AS (SELECT doc_id, w1, w2 FROM b0 WHERE w2 IS NOT NULL),
         |bc AS (SELECT w1, w2, COUNT(*) AS bc FROM b2 GROUP BY w1, w2),
         |pc AS (SELECT w1, SUM(bc) AS pc FROM bc GROUP BY w1),
         |uc AS (SELECT w1 AS w2u, COUNT(*) AS uc FROM toks GROUP BY w1),
         |tot AS (SELECT SUM(uc) AS total FROM uc),
         |terms AS (
         |  SELECT b2.doc_id,
         |    CAST(ROUND(ln(
         |      0.7 * (CAST(bc.bc AS DOUBLE) / CAST(pc.pc AS DOUBLE))
         |      + 0.3 * (CAST(uc.uc AS DOUBLE) / CAST(tot.total AS DOUBLE))), 6)
         |      AS DECIMAL(18,6)) AS term
         |  FROM b2 JOIN bc USING (w1, w2) JOIN pc USING (w1)
         |  JOIN uc ON b2.w2 = uc.w2u, tot),
         |d0 AS (SELECT doc_id, COUNT(*) AS n_bigrams,
         |    CAST(-SUM(term) * 1000000 AS BIGINT) AS x
         |  FROM terms GROUP BY doc_id),
         |d AS (SELECT doc_id, n_bigrams,
         |    CAST((2 * x + n_bigrams) // (2 * n_bigrams) AS DOUBLE)
         |      / 1000000.0 AS avg_nll
         |  FROM d0)
         |SELECT doc_id, n_bigrams, avg_nll, avg_nll >= 3.5 AS flagged
         |FROM d ORDER BY doc_id""".stripMargin),

    // EXACT SUBSTRING dedup (Lee et al. 2021, "Deduplicating Training Data
    // Makes Language Models Better") — the span-granular upgrade of tx24's
    // fixed-chunk rewrite: tx24 can only drop aligned 10-token blocks; a
    // duplicated passage STRADDLING a chunk boundary survives it. Here
    // every OVERLAPPING 5-token window is hashed, windows whose hash
    // occurs ≥2 times anywhere in the corpus (cross-doc or within-doc)
    // mark their 5 positions, and marked positions merge into maximal
    // duplicated SPANS (gaps-and-islands); clean_text drops exactly the
    // covered tokens. Scale shape: the gram stream is linear in corpus
    // tokens (one gram per position) and shuffles on the hash key only;
    // coverage explode is ≤5× positions, deduped before the islands
    // window; reassembly is tx24's per-doc collect_list. No quadratic
    // stage — the O(n²) suffix comparison of the paper collapses into the
    // hash-equality join.
    QuerySpec("tx26_substring_dedup", (s, dir) => {
      val k = 5
      // three consumers (gram stream, clean-text rebuild, final stats) —
      // barrier the tokenize pass once (r16; the v16 `af` materialization
      // trade: token arrays ≈ corpus bytes, vs 3 regex-tokenize scans).
      // CORPUS-SIZED and lineage-truncating under the default arm — on a
      // cluster, executor loss makes this frame unrecoverable (query
      // fails and restarts instead of recomputing); see
      // Barriers.corpusSized for the measured arms and the failure-mode
      // trade (SWEEP17)
      val toks = Barriers.corpusSized(fanout(docs(s, dir))
        .selectExpr("doc_id", s"$tokExpr AS tk")
        .withColumn("n", expr("size(tk)").cast("long")))
      val grams = toks.filter(col("n") >= k)
        .select(col("doc_id"), posexplode(expr(
          s"""transform(sequence(1, cast(size(tk) - ${k - 1} as int)),
             |  i -> concat_ws(' ', slice(tk, i, $k)))""".stripMargin))
          .as(Seq("p0", "gram")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("i"),
          md5(col("gram").cast("binary")).as("h"))
      val dupHashes = grams.groupBy(col("h"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).select(col("h"))
      val dupStarts = grams.join(dupHashes, Seq("h"), "left_semi")
      val covered = dupStarts
        .select(col("doc_id"), explode(expr(s"sequence(i, i + ${k - 1})")).as("t"))
        .distinct()
        // two consumers (span stats + clean-text anti-join), small frame
        .transform(Barriers.eager)
      val w = Window.partitionBy(col("doc_id")).orderBy(col("t"))
      val spanStats = covered
        .withColumn("grp", col("t") - row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_covered"),
          countDistinct(col("grp")).as("n_spans"))
      val dupCount = dupStarts.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dup_grams"))
      val clean = toks
        .select(col("doc_id"), posexplode(col("tk")).as(Seq("t0", "tok")))
        .select(col("doc_id"), (col("t0") + 1).cast("long").as("t"), col("tok"))
        .join(covered, Seq("doc_id", "t"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(t, tok))), x -> x.tok)"))
          .as("clean_text"))
      toks.select(col("doc_id"), col("n").as("n_tokens"))
        .join(dupCount, Seq("doc_id"), "left")
        .join(spanStats, Seq("doc_id"), "left")
        .join(clean, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_dup_grams", "n_covered", "n_spans"))
        .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
        .orderBy(col("doc_id"))
    },
      // full replay of the span dedup: same overlapping 5-gram md5 stream,
      // ≥2-occurrence hashes, position coverage, gaps-and-islands span
      // merge, and uncovered-token reassembly
      s"""WITH tk AS (SELECT doc_id, $dTok AS tk FROM documents),
         |base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n, tk FROM tk),
         |g AS (
         |  SELECT doc_id, i, md5(array_to_string(tk[i : i + 4], ' ')) AS h
         |  FROM (SELECT doc_id, tk,
         |          unnest(generate_series(1, len(tk) - 4)) AS i
         |        FROM base WHERE n >= 5)),
         |dh AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) > 1),
         |ds AS (SELECT doc_id, i FROM g JOIN dh USING (h)),
         |cov AS (SELECT DISTINCT doc_id, t FROM
         |  (SELECT doc_id, unnest(generate_series(i, i + 4)) AS t FROM ds)),
         |isl AS (SELECT doc_id, t,
         |    t - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY t) AS grp
         |  FROM cov),
         |sp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered,
         |    CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_spans
         |  FROM isl GROUP BY doc_id),
         |dc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_grams
         |  FROM ds GROUP BY doc_id),
         |tp AS (SELECT doc_id, unnest(tk) AS tok,
         |    CAST(generate_subscripts(tk, 1) AS BIGINT) AS t FROM base),
         |cl AS (SELECT tp.doc_id,
         |    string_agg(tok, ' ' ORDER BY tp.t) AS clean_text
         |  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.t = tp.t
         |  WHERE cov.t IS NULL GROUP BY tp.doc_id)
         |SELECT b.doc_id, b.n AS n_tokens,
         |  COALESCE(dc.n_dup_grams, 0) AS n_dup_grams,
         |  COALESCE(sp.n_covered, 0) AS n_covered,
         |  COALESCE(sp.n_spans, 0) AS n_spans,
         |  COALESCE(cl.clean_text, '') AS clean_text
         |FROM base b
         |LEFT JOIN dc USING (doc_id)
         |LEFT JOIN sp USING (doc_id)
         |LEFT JOIN cl ON cl.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin),

    // N-GRAM NOVELTY scoring — the "information gain" dedup diagnostic
    // (what does doc d add that the corpus BEFORE it didn't have?): every
    // 3-gram occurrence is novel iff d is the LOWEST doc_id anywhere in
    // the corpus containing that gram — i.e. dedup-ordered first
    // ownership, the per-doc contribution curve curriculum/mixing
    // decisions read. A doc whose novelty falls below 0.3 is flagged as
    // derivative (most of its content exists earlier in the corpus).
    // Scale shape: the gram stream is linear in corpus tokens; first
    // ownership is ONE min-aggregate keyed on the gram hash; attaching it
    // back is the same hash-keyed shuffle — no pairwise stage at all
    // (novelty needs no pair enumeration, unlike tx05/tx08).
    QuerySpec("tx27_ngram_novelty", (s, dir) => {
      val k = 3
      val grams = fanout(docs(s, dir))
        .selectExpr("doc_id", s"$tokExpr AS tk")
        .filter(expr(s"size(tk) >= $k"))
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(1, cast(size(tk) - ${k - 1} as int)),
             |  i -> concat_ws(' ', slice(tk, i, $k)))""".stripMargin))
          .as("gram"))
        .select(col("doc_id"), md5(col("gram").cast("binary")).as("h"))
      val firstDoc = grams.groupBy(col("h"))
        .agg(min(col("doc_id")).as("first_doc"))
      grams.join(firstDoc, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          // unrounded integer ratio — deterministic cross-engine (ts29
          // half-way class removed)
          col("n_novel").cast("double") / col("n_grams").cast("double"))
        .withColumn("derivative", col("novelty") < 0.3)
        .orderBy(col("doc_id"))
    },
      // same 3-gram stream; first ownership = min doc_id per gram hash
      s"""WITH tk AS (SELECT doc_id, $dTok AS tk FROM documents),
         |g AS (
         |  SELECT doc_id, md5(array_to_string(tk[i : i + 2], ' ')) AS h
         |  FROM (SELECT doc_id, tk,
         |          unnest(generate_series(1, len(tk) - 2)) AS i
         |        FROM tk WHERE len(tk) >= 3)),
         |fd AS (SELECT h, MIN(doc_id) AS first_doc FROM g GROUP BY h),
         |a AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |    CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_novel
         |  FROM g JOIN fd USING (h) GROUP BY doc_id)
         |SELECT doc_id, n_grams, n_novel,
         |  CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)
         |    AS novelty,
         |  (CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)) < 0.3
         |    AS derivative
         |FROM a ORDER BY doc_id""".stripMargin),

    // MINHASH ESTIMATOR ACCURACY — the sketch-quality verdict for the
    // tx05/tx11 dedup family (the discipline q19/q25 set for HLL and
    // t-digest): on tx06's deterministic pair sample, the per-pair
    // MinHash estimate (matching components / 16 — an exact dyadic, no
    // FP drift) sits next to the TRUE shingle Jaccard, with the absolute
    // error as a column. This is what tells an operator whether 16
    // components are enough before turning the banding dial on a new
    // corpus. Scale shape: signatures are the same linear aggregates as
    // tx05; the pair frame is the bounded diagnostic sample, never the
    // corpus.
    QuerySpec("tx28_minhash_accuracy", (s, dir) => {
      // Accuracy DIAGNOSTIC on a scale-capped pair sample (the v37/mm08
      // stride discipline; r11 32× sweep measured 152 s pre-fix): the
      // fixed 1/37 × 1/41 grid is n²/1517 pairs — quadratic — and the
      // signatures were computed for the WHOLE corpus although only the
      // sampled docs' are compared. The stride keeps the gate-scale
      // sample bit-identical (s = 1 at 500 docs) and pins the grid at
      // any rung; the sample filter now runs BEFORE signature/shingle
      // extraction, so the heavy per-doc work touches only sampled docs.
      val strideK = math.max(1L, docs(s, dir).count() / 500L)
      val sampled = fanout(docs(s, dir))
        .filter(expr(s"doc_id % ${37 * strideK} = 0 OR " +
          s"doc_id % ${41 * strideK} = 0"))
      val sigArr = minhashSigs(sampled, shingleWords = 3)
        .select(col("doc_id"),
          array((0 until 16).map(j => col(s"sig$j")): _*).as("sg"))
      val sh = sampled
        .selectExpr("doc_id", s"$tokExpr AS tk")
        .where(expr("size(tk) >= 3"))
        .selectExpr("doc_id",
          "array_distinct(transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))) AS sh")
      val withSig = sh.join(sigArr, Seq("doc_id"))
      val a = withSig.filter(expr(s"doc_id % ${37 * strideK} = 0"))
        .select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("sg").as("sg_a"))
      val b = withSig.filter(expr(s"doc_id % ${41 * strideK} = 0"))
        .select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("sg").as("sg_b"))
      a.crossJoin(broadcast(b))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("n_match", expr(
          "aggregate(zip_with(sg_a, sg_b, (x, y) -> IF(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)"))
        .withColumn("est", col("n_match").cast("double") / lit(16.0))
        .withColumn("n_inter", expr("size(array_intersect(sh_a, sh_b))").cast("long"))
        .withColumn("n_union",
          (expr("size(sh_a)") + expr("size(sh_b)")).cast("long") - col("n_inter"))
        // unrounded: the integer-ratio jaccard and the |dyadic − ratio|
        // error are single IEEE expressions, identical cross-engine
        .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
        .withColumn("abs_err", abs(col("est") - col("jaccard")))
        .select(col("doc_a"), col("doc_b"), col("n_match"), col("est"),
          col("jaccard"), col("abs_err"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // same 16 salted-md5 minhash components (tx05's hs CTE) compared
      // position-wise; true Jaccard from tx06's shingle sets
      s"""WITH toks AS (SELECT doc_id, $dTok AS tk FROM documents),
         |shl AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
         |  FROM toks WHERE len(tk) >= 3),
         |hs AS (
         |  SELECT doc_id, j, MIN(md5(j::VARCHAR || ':' || shingle)) AS sig
         |  FROM shl, range(0, 16) t(j) GROUP BY doc_id, j),
         |sg AS (SELECT doc_id, list(sig ORDER BY j) AS sg FROM hs GROUP BY doc_id),
         |ss AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |  FROM toks WHERE len(tk) >= 3),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(len(list_filter(range(1, 17),
         |      i -> sa.sg[CAST(i AS INT)] = sb.sg[CAST(i AS INT)])) AS BIGINT)
         |      AS n_match,
         |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS n_inter,
         |    len(a.sh) + len(b.sh)
         |      - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS n_union
         |  FROM ss a
         |  JOIN ss b ON a.doc_id % 37 = 0 AND b.doc_id % 41 = 0
         |    AND a.doc_id < b.doc_id
         |  JOIN sg sa ON sa.doc_id = a.doc_id
         |  JOIN sg sb ON sb.doc_id = b.doc_id)
         |SELECT doc_a, doc_b, n_match,
         |  CAST(n_match AS DOUBLE) / 16.0 AS est,
         |  CAST(n_inter AS DOUBLE) / n_union AS jaccard,
         |  abs(CAST(n_match AS DOUBLE) / 16.0
         |    - CAST(n_inter AS DOUBLE) / n_union) AS abs_err
         |FROM p ORDER BY doc_a, doc_b""".stripMargin),

    // DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): hashed-bigram bag-of-
    // words features, per-bucket log-ratio between a TARGET distribution
    // (here: docs from source 'src0') and the RAW crawl, per-doc weight =
    // Σ n_b · log(p_target(b)/p_raw(b)). Scale shape: the feature space is
    // CLOSED (64 buckets) — the two global histograms collapse map-side
    // into 64 rows, broadcast back, and the per-doc weight is ONE
    // doc_id-keyed hash aggregate. No shuffle ever carries more than
    // |docs| × 64 rows; at 100 TB the histogram stage is a constant-size
    // aggregate. Determinism: counts are integers, each bucket's log-ratio
    // is one ln of one IEEE quotient of exact-integer products rounded to
    // 6 dp (the tx21/tx25 discipline), and the per-doc sum is exact
    // decimal arithmetic — bit-identical in DuckDB.
    QuerySpec("tx29_dsir_importance", (s, dir) =>
      dsirWeights(s, dir)
        .select(col("doc_id"), col("n_bigrams"),
          col("w").cast("double").as("log_weight"), (col("w") > 0).as("selected"))
        .orderBy(col("doc_id")),
      // full replay: hashed-bigram buckets, target/raw histograms with add-1
      // smoothing, 6-dp-rounded per-bucket log-ratio, exact decimal doc sum
      s"""WITH $dsirSql
         |SELECT doc_id, n_bigrams, CAST(w AS DOUBLE) AS log_weight, w > 0 AS selected
         |FROM d ORDER BY doc_id""".stripMargin),

    // The RESAMPLING step DSIR's weights exist for (Xie et al. 2023 §2;
    // Vieira 2014's Gumbel-top-k): draw a fixed-size corpus WITHOUT
    // replacement with probability ∝ softmax(log-weight) by perturbing
    // each doc's log-weight with deterministic Gumbel noise
    // g = −ln(−ln(u)) — u an exact dyadic from the doc's md5, the tx20
    // reproducible-uniform discipline — and keeping the top-k keys. This
    // is THE distributed weighted-sampling shape: keys are map-side
    // per-row arithmetic and the only coordination is one
    // TakeOrderedAndProject top-k (no global sort, no sequential urn
    // walk). The rank window runs AFTER the limit, on k rows.
    QuerySpec("tx31_gumbel_sample", (s, dir) => {
      val keyed = dsirWeights(s, dir)
        .withColumn("u",
          (expr("cast(conv(substr(md5(cast(concat('smp:', doc_id) as binary)), 1, 6), 16, 10) as bigint)")
            .cast("double") + lit(0.5)) / lit(16777216.0))
        .withColumn("gumbel", -log(-log(col("u"))))
        .withColumn("skey", round(col("w").cast("double") + col("gumbel"), 6))
      keyed.orderBy(col("skey").desc, col("doc_id")).limit(64)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("skey").desc, col("doc_id"))).cast("long"))
        .select(col("rank"), col("doc_id"), col("n_bigrams"),
          col("w").cast("double").as("log_weight"), col("skey"))
        .orderBy(col("rank"))
    },
      // the same weights perturbed by the replayed Gumbel noise
      // (u from 6 md5 nibbles, g = -ln(-ln(u))), top-64 keys kept
      s"""WITH $dsirSql,
         |keyed AS (
         |  SELECT doc_id, n_bigrams, CAST(w AS DOUBLE) AS log_weight,
         |    ROUND(CAST(w AS DOUBLE) + (-ln(-ln(
         |      (CAST(list_sum(list_transform(range(0, 6), i ->
         |        CAST(strpos('0123456789abcdef',
         |          substr(md5('smp:' || doc_id), CAST(i + 1 AS INT), 1)) - 1
         |        AS BIGINT) << CAST(4 * (5 - i) AS INT))) AS DOUBLE) + 0.5)
         |      / 16777216.0))), 6) AS skey
         |  FROM d),
         |top AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY skey DESC, doc_id)
         |    AS BIGINT) AS rank
         |  FROM keyed)
         |SELECT rank, doc_id, n_bigrams, log_weight, skey
         |FROM top WHERE rank <= 64 ORDER BY rank""".stripMargin),

    // Gopher-style quality rule battery (Rae et al. 2021, appendix A1.1):
    // the standard pre-training document filters as an AND of per-doc
    // boolean rules — word-count bounds, mean-word-length bounds, ≥2
    // distinct stopwords, ≥80% alphabetic words, most-common-token share
    // ≤20%. Every rule is an INTEGER cross-multiplication (3·n ≤ L, not
    // L/n ≥ 3.0), so the verdicts are bit-exact with zero float ops.
    // Scale shape: pure per-row expressions over the token array — one
    // narrow map stage, no shuffle at all before the output sort.
    QuerySpec("tx30_gopher_rules", (s, dir) =>
      fanout(docs(s, dir))
        .selectExpr("doc_id", s"$tokExpr AS tk")
        .withColumn("n_words", expr("size(tk)").cast("long"))
        .withColumn("sum_word_len",
          expr("aggregate(tk, 0L, (acc, t) -> acc + length(t))"))
        .withColumn("n_stopwords",
          expr(s"size(filter(array$stopList, sw -> array_contains(tk, sw)))").cast("long"))
        .withColumn("n_alpha",
          expr("size(filter(tk, t -> t rlike '[a-z]'))").cast("long"))
        .withColumn("max_tf",
          expr("array_max(transform(array_distinct(tk), t -> size(filter(tk, x -> x = t))))").cast("long"))
        .withColumn("ok_word_count",
          col("n_words") >= 50 && col("n_words") <= 100000)
        .withColumn("ok_word_len",
          lit(3) * col("n_words") <= col("sum_word_len") &&
            col("sum_word_len") <= lit(10) * col("n_words"))
        .withColumn("ok_stopwords", col("n_stopwords") >= 2)
        .withColumn("ok_alpha", lit(5) * col("n_alpha") >= lit(4) * col("n_words"))
        .withColumn("ok_top_token", lit(5) * col("max_tf") <= col("n_words"))
        .withColumn("keep",
          col("ok_word_count") && col("ok_word_len") && col("ok_stopwords") &&
            col("ok_alpha") && col("ok_top_token"))
        .select(col("doc_id"), col("n_words"), col("sum_word_len"),
          col("n_stopwords"), col("n_alpha"), col("max_tf"),
          col("ok_word_count"), col("ok_word_len"), col("ok_stopwords"),
          col("ok_alpha"), col("ok_top_token"), col("keep"))
        .orderBy(col("doc_id")),
      // integer cross-multiplication replay of every rule
      s"""WITH d AS (
         |  SELECT doc_id, $dTok AS tk FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(tk) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(tk, t -> length(t))) AS BIGINT) AS sum_word_len,
         |    CAST(len(list_filter(['the', 'a', 'of', 'and', 'to', 'in', 'is'],
         |      sw -> list_contains(tk, sw))) AS BIGINT) AS n_stopwords,
         |    CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha,
         |    CAST(list_max(list_transform(list_distinct(tk),
         |      t -> len(list_filter(tk, x -> x = t)))) AS BIGINT) AS max_tf
         |  FROM d)
         |SELECT doc_id, n_words, sum_word_len, n_stopwords, n_alpha, max_tf,
         |  n_words >= 50 AND n_words <= 100000 AS ok_word_count,
         |  3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words AS ok_word_len,
         |  n_stopwords >= 2 AS ok_stopwords,
         |  5 * n_alpha >= 4 * n_words AS ok_alpha,
         |  5 * max_tf <= n_words AS ok_top_token,
         |  n_words >= 50 AND n_words <= 100000
         |    AND 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
         |    AND n_stopwords >= 2 AND 5 * n_alpha >= 4 * n_words
         |    AND 5 * max_tf <= n_words AS keep
         |FROM m ORDER BY doc_id""".stripMargin),

    // The FILTER FUNNEL — the pipeline-health report every corpus team
    // reads before training: how many documents survive each CUMULATIVE
    // stage (exact dedup → Gopher rules → quality threshold). Composition,
    // not new predicates: each stage reuses the exact formula its
    // standalone query oracles (tx01's min-id keep, tx30's integer rules,
    // tx03's 6-dp quality score ≥ 0.5). One pass: every stage is a
    // boolean column, the funnel is a single aggregate of conjunction
    // counts, unpivoted to ordered report rows. Scale shape: the dedup
    // stage's content-hash window is the only shuffle; everything after
    // is map-side bookkeeping over booleans.
    QuerySpec("tx32_filter_funnel", (s, dir) => {
      val wHash = Window.partitionBy(md5(col("text").cast("binary")))
      val flags = fanout(docs(s, dir))
        .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(wHash))
        .selectExpr("doc_id", "is_canonical", s"$tokExpr AS tk", "text")
        .withColumn("n_words", expr("size(tk)").cast("long"))
        .withColumn("sum_word_len",
          expr("aggregate(tk, 0L, (acc, t) -> acc + length(t))"))
        .withColumn("n_stopwords",
          expr(s"size(filter(array$stopList, sw -> array_contains(tk, sw)))").cast("long"))
        .withColumn("n_alpha",
          expr("size(filter(tk, t -> t rlike '[a-z]'))").cast("long"))
        .withColumn("max_tf",
          expr("array_max(transform(array_distinct(tk), t -> size(filter(tk, x -> x = t))))").cast("long"))
        .withColumn("gopher_keep",
          col("n_words") >= 50 && col("n_words") <= 100000 &&
            lit(3) * col("n_words") <= col("sum_word_len") &&
            col("sum_word_len") <= lit(10) * col("n_words") &&
            col("n_stopwords") >= 2 &&
            lit(5) * col("n_alpha") >= lit(4) * col("n_words") &&
            lit(5) * col("max_tf") <= col("n_words"))
        // tx03's score verbatim: stopword OCCURRENCES (not tx30's
        // distinct-present count) over tokens
        .withColumn("n_stop_occ",
          expr(s"size(filter(tk, t -> t IN $stopList))").cast("long"))
        .withColumn("quality_keep",
          round(lit(0.4) * (col("n_stop_occ").cast("double") / col("n_words")) +
            lit(0.6) * least(lit(1.0), col("n_words").cast("double") / lit(100.0)), 6)
            >= 0.5)
      flags.agg(
          count(lit(1)).as("s0"),
          sum(when(col("is_canonical"), 1L).otherwise(0L)).as("s1"),
          sum(when(col("is_canonical") && col("gopher_keep"), 1L).otherwise(0L))
            .as("s2"),
          sum(when(col("is_canonical") && col("gopher_keep") &&
            col("quality_keep"), 1L).otherwise(0L)).as("s3"))
        .selectExpr("""inline(array(
            named_struct('stage', '0_all',         'n_surviving', s0),
            named_struct('stage', '1_exact_dedup', 'n_surviving', s1),
            named_struct('stage', '2_gopher',      'n_surviving', s2),
            named_struct('stage', '3_quality',     'n_surviving', s3)))""")
        .orderBy(col("stage"))
    },
      // the same cumulative conjunctions replayed as one aggregate
      s"""WITH f AS (
         |  SELECT doc_id, text, $dTok AS tk,
         |    doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
         |  FROM documents),
         |m AS (
         |  SELECT is_canonical,
         |    CAST(len(tk) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(tk, t -> length(t))) AS BIGINT)
         |      AS sum_word_len,
         |    CAST(len(list_filter(['the', 'a', 'of', 'and', 'to', 'in', 'is'],
         |      sw -> list_contains(tk, sw))) AS BIGINT) AS n_stopwords,
         |    CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]'))) AS BIGINT)
         |      AS n_alpha,
         |    CAST(list_max(list_transform(list_distinct(tk),
         |      t -> len(list_filter(tk, x -> x = t)))) AS BIGINT) AS max_tf,
         |    CAST(len(list_filter(tk, t -> t IN $dStop)) AS BIGINT) AS n_stop_occ
         |  FROM f),
         |g AS (
         |  SELECT is_canonical,
         |    n_words >= 50 AND n_words <= 100000
         |      AND 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
         |      AND n_stopwords >= 2 AND 5 * n_alpha >= 4 * n_words
         |      AND 5 * max_tf <= n_words AS gopher_keep,
         |    ROUND(0.4 * (CAST(n_stop_occ AS DOUBLE) / n_words)
         |        + 0.6 * LEAST(1.0, CAST(n_words AS DOUBLE) / 100.0), 6) >= 0.5
         |      AS quality_keep
         |  FROM m),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS s0,
         |    CAST(SUM(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         |    CAST(SUM(CASE WHEN is_canonical AND gopher_keep THEN 1 ELSE 0 END)
         |      AS BIGINT) AS s2,
         |    CAST(SUM(CASE WHEN is_canonical AND gopher_keep AND quality_keep
         |      THEN 1 ELSE 0 END) AS BIGINT) AS s3
         |  FROM g)
         |SELECT '0_all' AS stage, s0 AS n_surviving FROM agg
         |UNION ALL SELECT '1_exact_dedup', s1 FROM agg
         |UNION ALL SELECT '2_gopher', s2 FROM agg
         |UNION ALL SELECT '3_quality', s3 FROM agg
         |ORDER BY stage""".stripMargin),

    // CONTENT-DEFINED CHUNKING dedup (the rsync/LBFS/FastCDC shape used
    // for storage- and dataset-level dedup): chunk boundaries fall where
    // the hash of the trailing 8-char window ≡ 0 (mod 32), so an
    // insertion early in a document shifts ONLY the chunk it lands in —
    // unlike tx24's fixed-width chunks, where one added character
    // re-aligns and re-hashes every downstream chunk. Output is the
    // duplicated-chunk inventory (hash, length, doc reach, occurrence
    // count) that a storage dedup or a copy-paste-content report reads.
    // Everything up to the GROUP BY is per-row array math (map-side, no
    // row amplification before the one hash shuffle on chunk_hash) —
    // the tx01 exact-dedup shape applied at sub-document granularity.
    // The window hash is md5-of-substring (the dsir/tx05 replay idiom),
    // NOT a hand-rolled polynomial over a chars array, and the whole
    // cutter is ONE aggregate() fold carrying (last_cut, chunks) struct
    // state. Both choices are the same hard-won lesson: any column a
    // downstream per-element lambda references gets INLINED by
    // CollapseProject and re-evaluated per position — a first cut
    // folded slices of a precomputed `codes` array (O(len³) per doc;
    // jstack showed ArrayTransform inside ArrayAggregate, 11
    // CPU-minutes on 500 300-char docs), and a second cut that built a
    // boundary array then sliced chunks from it re-ran the whole
    // boundary filter per chunk (175 s at sf0.1). The single fold
    // evaluates ONE md5 per position, period: ~1.5 M md5s at sf0.1.
    // Boundary = trailing-8-window hash ≡ 0 (mod 32: two hex nibbles,
    // keep 5 bits); never cut at the very end (the tail chunk closes
    // at length(text) in the finish lambda). Mod-32 gives ~32-char
    // expected chunks on this corpus's text lengths.
    QuerySpec("tx39_cdc_chunk_dedup", (s, dir) =>
      cdcChunkRows(s, dir)
        // no min-size constraint in the cutter (that needs sequential
        // state — FastCDC's normalization); instead the INVENTORY keeps
        // substantive chunks only, so adjacent boundaries' 1-3 char
        // slivers don't drown the report
        .filter(length(col("chunk")) >= 4)
        .groupBy(expr("md5(cast(chunk as binary))").as("chunk_hash"))
        .agg(max(length(col("chunk"))).cast("long").as("chunk_len"),
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
        .filter(col("n_occ") > 1)
        .select(col("chunk_hash"), col("chunk_len"), col("n_docs"), col("n_occ"))
        .orderBy(col("n_occ").desc, col("chunk_hash")),
      // CDC replay: same md5-of-trailing-window boundary hash (first two
      // hex nibbles via the dsir strpos idiom = Spark's conv(substr(md5,
      // 1, 2), 16, 10)), mod-32 boundaries; COUNT/COUNT(DISTINCT) are
      // BIGINT on both engines (no sum to pin)
      """WITH bd AS (
        |  SELECT doc_id, text,
        |    list_filter(range(8, length(text) + 1), i ->
        |      i < length(text) AND
        |      ((strpos('0123456789abcdef',
        |          substr(md5(substr(text, CAST(i - 7 AS INT), 8)), 1, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef',
        |          substr(md5(substr(text, CAST(i - 7 AS INT), 8)), 2, 1)) - 1))
        |        % 32 = 0) AS bs
        |  FROM documents),
        |ct AS (
        |  SELECT doc_id, text,
        |    list_concat(list_concat([0::BIGINT], bs),
        |      [CAST(length(text) AS BIGINT)]) AS cuts
        |  FROM bd),
        |ch AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(cuts)), k ->
        |      substr(text, CAST(list_extract(cuts, CAST(k AS INT)) + 1 AS INT),
        |        CAST(list_extract(cuts, CAST(k + 1 AS INT))
        |          - list_extract(cuts, CAST(k AS INT)) AS INT)))) AS chunk
        |  FROM ct)
        |SELECT md5(chunk) AS chunk_hash,
        |  CAST(MAX(length(chunk)) AS BIGINT) AS chunk_len,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_occ
        |FROM ch WHERE length(chunk) >= 4
        |GROUP BY chunk_hash HAVING COUNT(*) > 1
        |ORDER BY n_occ DESC, chunk_hash""".stripMargin),

    // CROSS-SOURCE DUPLICATION MATRIX — tx39's chunks rolled up to the
    // report a curation team actually reads: for every source pair, how
    // many distinct ≥4-char chunks they share, and the containment
    // ratio (shared / smaller side) that flags "slice B is largely a
    // re-crawl of slice A". tx22 budgets sources by volume; this is the
    // overlap screen run before trusting those volumes. Scale shape:
    // the chunker is map-side; ONE distinct shuffle on (source, hash)
    // — checkpointed, because three consumers would otherwise re-run
    // the cutter (the v16/v28 lesson) — then a self-join on the hash
    // whose fan-out per hash is bounded by the SOURCE count, not the
    // corpus; the pair frame is ≤ |sources|² rows.
    QuerySpec("tx40_cross_source_dup", (s, dir) => {
      val ch = cdcChunkRows(s, dir)
        .filter(length(col("chunk")) >= 4)
        .select(col("source"), expr("md5(cast(chunk as binary))").as("h"))
        .distinct()
        .localCheckpoint(true)
      val per = ch.groupBy(col("source")).agg(count(lit(1)).as("n"))
      ch.select(col("source").as("source_a"), col("h"))
        .join(ch.select(col("source").as("source_b"), col("h")), "h")
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(per.select(col("source").as("source_a"),
          col("n").as("n_a"))), "source_a")
        .join(broadcast(per.select(col("source").as("source_b"),
          col("n").as("n_b"))), "source_b")
        .withColumn("containment", col("n_shared").cast("double")
          / least(col("n_a"), col("n_b")).cast("double"))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          col("n_shared"), col("containment"))
        .orderBy(col("source_a"), col("source_b"))
    },
      // tx39's chunk CTEs with source carried through, distinct
      // (source, hash) sets, pair overlap + unrounded containment;
      // COUNT is BIGINT on both engines
      """WITH bd AS (
        |  SELECT doc_id, source, text,
        |    list_filter(range(8, length(text) + 1), i ->
        |      i < length(text) AND
        |      ((strpos('0123456789abcdef',
        |          substr(md5(substr(text, CAST(i - 7 AS INT), 8)), 1, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef',
        |          substr(md5(substr(text, CAST(i - 7 AS INT), 8)), 2, 1)) - 1))
        |        % 32 = 0) AS bs
        |  FROM documents),
        |ct AS (
        |  SELECT doc_id, source, text,
        |    list_concat(list_concat([0::BIGINT], bs),
        |      [CAST(length(text) AS BIGINT)]) AS cuts
        |  FROM bd),
        |ch AS (
        |  SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(cuts)), k ->
        |      substr(text, CAST(list_extract(cuts, CAST(k AS INT)) + 1 AS INT),
        |        CAST(list_extract(cuts, CAST(k + 1 AS INT))
        |          - list_extract(cuts, CAST(k AS INT)) AS INT)))) AS chunk
        |  FROM ct),
        |ch2 AS (SELECT DISTINCT source, md5(chunk) AS h
        |        FROM ch WHERE length(chunk) >= 4),
        |per AS (SELECT source, COUNT(*) AS n FROM ch2 GROUP BY source),
        |pairs AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    COUNT(*) AS n_shared
        |  FROM ch2 a JOIN ch2 b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, pa.n AS n_a, pb.n AS n_b, n_shared,
        |  CAST(n_shared AS DOUBLE) / LEAST(pa.n, pb.n) AS containment
        |FROM pairs
        |JOIN per pa ON pa.source = source_a
        |JOIN per pb ON pb.source = source_b
        |ORDER BY source_a, source_b""".stripMargin),

    // B-BIT MINWISE HASHING (Li & König 2010) — the storage-optimal
    // MinHash variant: keep only the LOW 4 BITS of each of the 16
    // signature components (here: the last hex digit of the md5), cutting
    // signature storage 32× vs the full 128-bit hashes, and correct the
    // collision inflation analytically: with b = 4 bits the random-match
    // baseline is C = 2⁻ᵇ = 1/16, so Ĵ = (m − C)/(1 − C) where m is the
    // matched-component fraction. Measured side-by-side on tx28's ground
    // truth pairs: full-hash estimate, 4-bit corrected estimate, exact
    // Jaccard, both absolute errors — the storage/accuracy trade a 100 TB
    // dedup index actually buys. All estimates are dyadic or fixed IEEE
    // trees (m is k/16, C and 1−C are exact binary fractions) — no
    // rounding anywhere.
    QuerySpec("tx42_bbit_minhash", (s, dir) => {
      // same scale-capped sample-first shape as tx28 (r11 32× sweep:
      // 248 s pre-fix — the worst outlier on the tx board)
      val strideK = math.max(1L, docs(s, dir).count() / 500L)
      val sampled = fanout(docs(s, dir))
        .filter(expr(s"doc_id % ${37 * strideK} = 0 OR " +
          s"doc_id % ${41 * strideK} = 0"))
      val sigArr = minhashSigs(sampled, shingleWords = 3)
        .select(col("doc_id"),
          array((0 until 16).map(j => col(s"sig$j")): _*).as("sg"),
          array((0 until 16).map(j =>
            expr(s"cast(conv(substr(sig$j, 32, 1), 16, 10) as int)")): _*)
            .as("bb"))
      val sh = sampled
        .selectExpr("doc_id", s"$tokExpr AS tk")
        .where(expr("size(tk) >= 3"))
        .selectExpr("doc_id",
          "array_distinct(transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))) AS sh")
      val withSig = sh.join(sigArr, Seq("doc_id"))
      val a = withSig.filter(expr(s"doc_id % ${37 * strideK} = 0"))
        .select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
          col("sg").as("sg_a"), col("bb").as("bb_a"))
      val b = withSig.filter(expr(s"doc_id % ${41 * strideK} = 0"))
        .select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
          col("sg").as("sg_b"), col("bb").as("bb_b"))
      a.crossJoin(broadcast(b))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("n_match", expr(
          "aggregate(zip_with(sg_a, sg_b, (x, y) -> IF(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)"))
        .withColumn("n_match4", expr(
          "aggregate(zip_with(bb_a, bb_b, (x, y) -> IF(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)"))
        .withColumn("est_full", col("n_match").cast("double") / lit(16.0))
        .withColumn("est_4bit",
          (col("n_match4").cast("double") / lit(16.0) - lit(0.0625))
            / lit(0.9375))
        .withColumn("n_inter",
          expr("size(array_intersect(sh_a, sh_b))").cast("long"))
        .withColumn("n_union",
          (expr("size(sh_a)") + expr("size(sh_b)")).cast("long")
            - col("n_inter"))
        .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
        .withColumn("err_full", abs(col("est_full") - col("jaccard")))
        .withColumn("err_4bit", abs(col("est_4bit") - col("jaccard")))
        .select(col("doc_a"), col("doc_b"), col("n_match"), col("n_match4"),
          col("est_full"), col("est_4bit"), col("jaccard"),
          col("err_full"), col("err_4bit"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
      s"""WITH toks AS (SELECT doc_id, $dTok AS tk FROM documents),
         |shl AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
         |  FROM toks WHERE len(tk) >= 3),
         |hs AS (
         |  SELECT doc_id, j, MIN(md5(j::VARCHAR || ':' || shingle)) AS sig
         |  FROM shl, range(0, 16) t(j) GROUP BY doc_id, j),
         |sg AS (SELECT doc_id, list(sig ORDER BY j) AS sg,
         |         list(strpos('0123456789abcdef', substr(sig, 32, 1)) - 1
         |              ORDER BY j) AS bb
         |       FROM hs GROUP BY doc_id),
         |ss AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |  FROM toks WHERE len(tk) >= 3),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(len(list_filter(range(1, 17),
         |      i -> sa.sg[CAST(i AS INT)] = sb.sg[CAST(i AS INT)])) AS BIGINT)
         |      AS n_match,
         |    CAST(len(list_filter(range(1, 17),
         |      i -> sa.bb[CAST(i AS INT)] = sb.bb[CAST(i AS INT)])) AS BIGINT)
         |      AS n_match4,
         |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS n_inter,
         |    len(a.sh) + len(b.sh)
         |      - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS n_union
         |  FROM ss a
         |  JOIN ss b ON a.doc_id % 37 = 0 AND b.doc_id % 41 = 0
         |    AND a.doc_id < b.doc_id
         |  JOIN sg sa ON sa.doc_id = a.doc_id
         |  JOIN sg sb ON sb.doc_id = b.doc_id)
         |SELECT doc_a, doc_b, n_match, n_match4,
         |  CAST(n_match AS DOUBLE) / 16.0 AS est_full,
         |  (CAST(n_match4 AS DOUBLE) / 16.0 - 0.0625) / 0.9375 AS est_4bit,
         |  CAST(n_inter AS DOUBLE) / n_union AS jaccard,
         |  abs(CAST(n_match AS DOUBLE) / 16.0
         |    - CAST(n_inter AS DOUBLE) / n_union) AS err_full,
         |  abs((CAST(n_match4 AS DOUBLE) / 16.0 - 0.0625) / 0.9375
         |    - CAST(n_inter AS DOUBLE) / n_union) AS err_4bit
         |FROM p ORDER BY doc_a, doc_b""".stripMargin),

    // MOSS-style WINNOWING fingerprints (Schleimer et al. 2003) — the
    // plagiarism-detection / local-dedup shape missing from the tx05/tx08
    // signature family: hash every 8-char k-gram (64-bit polynomial,
    // replayed bit-for-bit by the oracle), then keep only each 4-window's
    // MINIMUM hash (rightmost on ties), the guarantee being every shared
    // substring of >= k+w-1 = 11 chars contributes at least one SHARED
    // selected fingerprint. Tie-break is encoded arithmetically: the
    // window minimum of `h*1024 - p` prefers smaller h, then LARGER p
    // (positions < 1024), so no struct comparisons that could differ
    // across engines. Scale: O(len) rows per doc into a per-doc window
    // (never cross-doc), fingerprint density ~2/(w+1); the pair join keys
    // on fingerprint hash with a df<=10 rarity cap (the tx35 bounded
    // fan-out discipline), so bucket sizes are capped and nothing is
    // O(n²). The distinct fingerprint frame feeds four consumers (per-doc
    // counts, the cap, both join sides) -> one eager checkpoint.
    QuerySpec("tx41_winnow_fingerprints", (s, dir) => {
      val horner = (0 until 8).foldLeft("0L")((acc, i) =>
        s"($acc * 31 + ascii(substring(text, p + $i, 1)))")
      val keyed = fanout(docs(s, dir))
        .filter(length(col("text")) >= 11)
        .select(col("doc_id"), col("text"),
          explode(expr("sequence(1, length(text) - 7)")).as("p"))
        .withColumn("hh", expr(s"($horner) % 1000000007L"))
        .withColumn("ky", min(col("hh") * 1024L - col("p")).over(
          Window.partitionBy(col("doc_id")).orderBy(col("p"))
            .rowsBetween(-3, 0)))
        .filter(col("p") >= 4)
      val fps = keyed
        .selectExpr("doc_id", "(ky div 1024) + 1 AS fh")
        .distinct()
        .localCheckpoint(true)
      val per = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
      val rare = fps.groupBy(col("fh")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 10)
        .select(col("fh"))
      val capped = fps.join(rare, Seq("fh"), "left_semi")
      // per-doc count joins stay hash joins (per is |docs|-sized — NOT
      // broadcastable at scale); the pairs side is tiny after the filters
      capped.select(col("doc_id").as("doc_a"), col("fh"))
        .join(capped.select(col("doc_id").as("doc_b"), col("fh")), "fh")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .join(per.select(col("doc_id").as("doc_a"), col("nfp").as("n_a")),
          "doc_a")
        .join(per.select(col("doc_id").as("doc_b"), col("nfp").as("n_b")),
          "doc_b")
        .withColumn("containment", col("n_shared").cast("double")
          / least(col("n_a"), col("n_b")).cast("double"))
        .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
          col("n_shared"), col("containment"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
      {
        val horner = (0 until 8).foldLeft("CAST(0 AS BIGINT)")((acc, i) =>
          s"($acc * 31 + ascii(substr(text, CAST(p + $i AS INT), 1)))")
        s"""WITH pos AS (
           |  SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS p
           |  FROM documents WHERE length(text) >= 11),
           |h AS (
           |  SELECT doc_id, p, ($horner) % 1000000007 AS hh
           |  FROM pos),
           |k AS (
           |  SELECT doc_id, p,
           |    MIN(hh * 1024 - p) OVER (PARTITION BY doc_id ORDER BY p
           |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS ky
           |  FROM h),
           |fps AS (
           |  SELECT DISTINCT doc_id, ky // 1024 + 1 AS fh FROM k WHERE p >= 4),
           |per AS (SELECT doc_id, COUNT(*) AS nfp FROM fps GROUP BY doc_id),
           |rare AS (SELECT fh FROM fps GROUP BY fh HAVING COUNT(*) <= 10),
           |capped AS (SELECT f.* FROM fps f JOIN rare USING (fh)),
           |pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
           |  FROM capped a JOIN capped b ON a.fh = b.fh AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
           |SELECT doc_a, doc_b, pa.nfp AS n_a, pb.nfp AS n_b, n_shared,
           |  CAST(n_shared AS DOUBLE) / LEAST(pa.nfp, pb.nfp) AS containment
           |FROM pairs
           |JOIN per pa ON pa.doc_id = doc_a
           |JOIN per pb ON pb.doc_id = doc_b
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // RAKE KEYWORD EXTRACTION (Rose et al. 2010): candidate phrases are
    // maximal runs of non-stopword tokens (gaps-and-islands split at the
    // corpus stoplist), word score = degree/frequency where degree counts
    // co-occurring words across a word's phrases, phrase score = Σ member
    // word scores. tx16's TF-IDF ranks single TOKENS per doc; RAKE
    // surfaces multi-word PHRASES corpus-wide — the complementary
    // keyword surface. All-integer numerics: scores are micro-unit
    // bigints ((deg·10⁶) div freq — positive operands, cn08's proven
    // construct), so the hash compare is exact by construction. Scale:
    // token explode is map-side, the island split is one (doc)-keyed
    // window over tokens, word stats one hash agg (vocabulary-bounded,
    // broadcast back), and the final top-15 is TakeOrderedAndProject.
    QuerySpec("tx43_rake_keywords", (s, dir) => {
      val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val toks = fanout(docs(s, dir))
        .select(col("doc_id"), posexplode(expr(tokExpr)).as(Seq("pos", "w")))
        .withColumn("stop",
          expr(s"w IN $stopList") || col("w") === "")
      val members = toks
        .withColumn("grp", sum(when(col("stop"), 1L).otherwise(0L)).over(wd))
        .filter(!col("stop"))
      // phrases capped at 4 words (the RAKE convention: longer runs are
      // rare and dominated by their length, not their salience)
      val phrase = members
        .groupBy(col("doc_id"), col("grp"))
        .agg(
          array_join(expr("transform(array_sort(" +
            "collect_list(struct(pos, w))), p -> p.w)"), " ").as("phrase"),
          count(lit(1)).cast("long").as("n_words"))
        .filter(col("n_words") <= 4)
        .localCheckpoint(true)
      val wordStats = members
        .join(phrase.select(col("doc_id"), col("grp"), col("n_words")),
          Seq("doc_id", "grp"))
        .groupBy(col("w"))
        .agg(count(lit(1)).cast("long").as("freq"),
          sum(col("n_words")).cast("long").as("deg"))
        .withColumn("score_ppm", expr("(deg * 1000000) div freq"))
      members
        .join(phrase, Seq("doc_id", "grp"))
        .join(broadcast(wordStats.select(col("w"), col("score_ppm"))),
          Seq("w"))
        .groupBy(col("doc_id"), col("grp"), col("phrase"), col("n_words"))
        .agg(sum(col("score_ppm")).cast("long").as("p_score"))
        .groupBy(col("phrase"), col("n_words"))
        .agg(count(lit(1)).cast("long").as("n_occur"),
          countDistinct(col("doc_id")).cast("long").as("n_docs"),
          max(col("p_score")).as("score_ppm"))
        // limit BEFORE the rank window: TakeOrderedAndProject does the
        // top-15 with per-partition heaps; the row_number then runs on a
        // 15-row frame (a global window over the full phrase table would
        // single-partition-sort the whole vocabulary)
        .orderBy(col("score_ppm").desc, col("phrase")).limit(15)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("score_ppm").desc, col("phrase"))).cast("long"))
        .select(col("rnk"), col("phrase"), col("n_words"), col("n_occur"),
          col("n_docs"), col("score_ppm"))
        .orderBy(col("rnk"))
    },
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($dTok) AS w,
         |    generate_subscripts($dTok, 1) AS pos
         |  FROM documents),
         |t2 AS (
         |  SELECT doc_id, pos, w,
         |    (w IN ('the', 'a', 'of', 'and', 'to', 'in', 'is') OR w = '')
         |      AS stop
         |  FROM toks),
         |m AS (
         |  SELECT doc_id, pos, w, grp FROM (
         |    SELECT doc_id, pos, w, stop,
         |      SUM(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
         |        PARTITION BY doc_id ORDER BY pos
         |        ROWS UNBOUNDED PRECEDING) AS grp
         |    FROM t2) WHERE NOT stop),
         |ph AS (
         |  SELECT doc_id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase,
         |    COUNT(*) AS n_words
         |  FROM m GROUP BY 1, 2 HAVING COUNT(*) <= 4),
         |ws AS (
         |  SELECT w, COUNT(*) AS freq, SUM(n_words) AS deg
         |  FROM m JOIN ph USING (doc_id, grp) GROUP BY w),
         |wsc AS (SELECT w, (deg * 1000000) // freq AS score_ppm FROM ws),
         |ps AS (
         |  SELECT m.doc_id, m.grp, ph.phrase, ph.n_words,
         |    SUM(score_ppm) AS p_score
         |  FROM m JOIN ph USING (doc_id, grp) JOIN wsc USING (w)
         |  GROUP BY 1, 2, 3, 4),
         |agg AS (
         |  SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
         |    COUNT(*) AS n_occur, COUNT(DISTINCT doc_id) AS n_docs,
         |    CAST(MAX(p_score) AS BIGINT) AS score_ppm
         |  FROM ps GROUP BY 1, 2)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_ppm DESC, phrase)
         |    AS BIGINT) AS rnk,
         |  phrase, n_words, n_occur, n_docs, score_ppm
         |FROM agg ORDER BY score_ppm DESC, phrase LIMIT 15""".stripMargin),

    // CHAR-TRIGRAM LANGUAGE ID (Cavnar & Trenkle 1994 out-of-place
    // measure) — the n-gram-profile upgrade of tx04's stopword heuristic:
    // train top-20 trigram profiles per labeled lang on the even-doc_id
    // half, classify the odd half by Σ|rank difference| (missing trigram
    // = max penalty 20), emit the measured confusion matrix. Everything
    // is INTEGER (counts, ranks, absolute differences) — hash-exact by
    // construction; the accuracy itself is a measured output, not an
    // assumption. Scale: trigram explode is map-side (first 256 chars
    // per doc, bounded fan-out ×254), lang profiles are a ≤20×|langs|
    // broadcast, per-doc scoring one (doc)-keyed aggregate, and the
    // confusion rollup is |langs|² cells.
    QuerySpec("tx44_chartrigram_langid", (s, dir) => {
      // NOT checkpointed (the round-12 128× census OOM): materializing the
      // EXPLODED frame caches |docs| × 254 rows — 162 M at the 128× rung —
      // and that storage pressure starved the downstream per-doc hash
      // aggregation (AGGREGATE_OUT_OF_MEMORY). The explode is one cheap
      // map-side pass over a pruned scan, so the two consumers each
      // recompute it and every row flows straight into its partial
      // aggregate instead of parking in the block manager.
      def base = fanout(docs(s, dir))
        .withColumn("t", expr("substr(lower(text), 1, 256)"))
        .filter(length(col("t")) >= 3)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"))
          .as("tg"))
      val prof = base.filter(col("doc_id") % 2 === 0)
        .groupBy(col("lang").as("plang"), col("tg"))
        .agg(count(lit(1)).as("pc"))
        .withColumn("prank", row_number().over(
          Window.partitionBy(col("plang"))
            .orderBy(col("pc").desc, col("tg"))).cast("long"))
        .filter(col("prank") <= 20)
        .select(col("plang"), col("tg"), col("prank"))
        .localCheckpoint(true)
      val dprof = base.filter(col("doc_id") % 2 === 1)
        .groupBy(col("doc_id"), col("lang"), col("tg"))
        .agg(count(lit(1)).as("dc"))
        .withColumn("drank", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("dc").desc, col("tg"))).cast("long"))
        .filter(col("drank") <= 20)
      val langs = prof.select(col("plang")).distinct()
      val dist = dprof
        .crossJoin(broadcast(langs))
        .join(broadcast(prof), Seq("plang", "tg"), "left")
        .withColumn("d", coalesce(
          abs(col("drank") - col("prank")), lit(20L)))
        .groupBy(col("doc_id"), col("lang"), col("plang"))
        .agg(sum(col("d")).cast("long").as("sum_d"))
      dist
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("sum_d"), col("plang"))))
        .filter(col("rn") === 1)
        .groupBy(col("lang").as("actual"), col("plang").as("predicted"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("sum_d")).cast("long").as("sum_dist"))
        .orderBy(col("actual"), col("predicted"))
    },
      """WITH base AS (
        |  SELECT doc_id, lang, substr(lower(text), 1, 256) AS t
        |  FROM documents
        |  WHERE len(substr(lower(text), 1, 256)) >= 3),
        |tri AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, len(t) - 1),
        |      i -> substr(t, CAST(i AS INT), 3))) AS tg
        |  FROM base),
        |pc AS (
        |  SELECT lang AS plang, tg, COUNT(*) AS pc FROM tri
        |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |prof AS (
        |  SELECT plang, tg, prank FROM (
        |    SELECT plang, tg, ROW_NUMBER() OVER (
        |      PARTITION BY plang ORDER BY pc DESC, tg) AS prank
        |    FROM pc) WHERE prank <= 20),
        |dc AS (
        |  SELECT doc_id, lang, tg, COUNT(*) AS dc FROM tri
        |  WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3),
        |dprof AS (
        |  SELECT doc_id, lang, tg, drank FROM (
        |    SELECT doc_id, lang, tg, ROW_NUMBER() OVER (
        |      PARTITION BY doc_id ORDER BY dc DESC, tg) AS drank
        |    FROM dc) WHERE drank <= 20),
        |langs AS (SELECT DISTINCT plang FROM prof),
        |dist AS (
        |  SELECT d.doc_id, d.lang, l.plang,
        |    SUM(COALESCE(abs(d.drank - p.prank), 20)) AS sum_d
        |  FROM dprof d CROSS JOIN langs l
        |  LEFT JOIN prof p ON p.plang = l.plang AND p.tg = d.tg
        |  GROUP BY 1, 2, 3),
        |pick AS (
        |  SELECT doc_id, lang, plang, sum_d FROM (
        |    SELECT doc_id, lang, plang, sum_d,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY sum_d, plang) AS rn
        |    FROM dist) WHERE rn = 1)
        |SELECT lang AS actual, plang AS predicted, COUNT(*) AS n_docs,
        |  CAST(SUM(sum_d) AS BIGINT) AS sum_dist
        |FROM pick GROUP BY 1, 2 ORDER BY actual, predicted""".stripMargin),

    // READABILITY SCORING (Flesch reading-ease + Flesch–Kincaid grade —
    // the difficulty dial an instruction-data curriculum filters on):
    // words = \S+ islands, sentences = [.!?]+ terminator groups (floored
    // at 1 so headline-like fragments still score), syllables = the
    // standard vowel-group heuristic [aeiouy]+ over the lowercased text.
    // All three counts are integers from THREE regexp passes sharing one
    // scan (RE2/Java-regex-common character classes only — no \b, no
    // lookaround); the two scores are each ONE fixed IEEE tree over those
    // integers. Patterns go through the DataFrame API (lit), never a SQL
    // string literal, so no escape-processing divergence can creep in.
    // Pure map-side per-doc work + presentation sort — embarrassingly
    // parallel at any corpus size.
    QuerySpec("tx45_readability", (s, dir) =>
      fanout(docs(s, dir))
        .withColumn("n_words",
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast("long"))
        .withColumn("n_sentences",
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
            .cast("long"))
        .withColumn("n_syllables",
          size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"),
            lit(0))).cast("long"))
        .withColumn("wp", greatest(col("n_words"), lit(1L)).cast("double"))
        .withColumn("sp", greatest(col("n_sentences"), lit(1L))
          .cast("double"))
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          round(lit(206.835) - lit(1.015) * (col("wp") / col("sp"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("wp")), 6)
            .as("fre"),
          round(lit(0.39) * (col("wp") / col("sp"))
            + lit(11.8) * (col("n_syllables").cast("double") / col("wp"))
            - lit(15.59), 6).as("fk_grade"))
        .orderBy(col("doc_id")),
      // the same three RE2/Java-common patterns (backslashes literal in a
      // DuckDB string), then the identical one-tree score spellings
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
        |      AS n_words,
        |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
        |      AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n_words, n_sentences, n_syllables,
        |    CAST(GREATEST(n_words, 1) AS DOUBLE) AS wp,
        |    CAST(GREATEST(n_sentences, 1) AS DOUBLE) AS sp
        |  FROM c)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  ROUND(206.835 - 1.015 * (wp / sp)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / wp), 6) AS fre,
        |  ROUND(0.39 * (wp / sp)
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / wp) - 15.59, 6)
        |    AS fk_grade
        |FROM p ORDER BY doc_id""".stripMargin),

    // MARKUP STRIP (the HTML-cleanup pass every web-corpus pipeline runs
    // before quality/dedup): drop <...> tags, decode the four core
    // entities, collapse whitespace runs, trim. The corpus rows are
    // plain text (0 tags — they prove the pass is a no-op on clean
    // input); two INJECTED rows carry real markup — nested tags, an
    // unclosed tag, entities, multi-space runs — shared verbatim with
    // the oracle (mm02's injected-fixture discipline), so the tag
    // regex, entity order and collapse behavior are all hash-pinned.
    // Pure map-side; patterns via the DataFrame API (no SQL-literal
    // escape divergence).
    QuerySpec("tx46_markup_strip", (s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val extra = s.range(1).select(lit(1000001L).as("doc_id"),
        lit(TX46_HTML_ROW).as("text"))
        .unionByName(s.range(1).select(lit(1000002L).as("doc_id"),
          lit(TX46_BROKEN_ROW).as("text")))
      fanout(base.unionByName(extra))
        .withColumn("n_tags",
          size(regexp_extract_all(col("text"), lit("<[^>]*>"), lit(0)))
            .cast("long"))
        .withColumn("stripped",
          regexp_replace(col("text"), "<[^>]*>", " "))
        .withColumn("decoded",
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            col("stripped"), "&amp;", "&"), "&lt;", "<"), "&gt;", ">"),
            "&quot;", "\""))
        .withColumn("clean",
          trim(regexp_replace(col("decoded"), "\\s+", " ")))
        .select(col("doc_id"), col("n_tags"),
          length(col("text")).cast("long").as("raw_len"),
          length(col("clean")).cast("long").as("clean_len"),
          substring(col("clean"), 1, 48).as("clean_prefix"))
        .orderBy(col("doc_id"))
    },
      // same injected fixtures verbatim; DuckDB regexp_replace needs the
      // 'g' flag (Spark's replaces all matches by default), entities via
      // replace() which is all-occurrences on both
      ("""WITH extra AS (
        |  SELECT 1000001 AS doc_id, '""" + TX46_HTML_ROW + """' AS text
        |  UNION ALL
        |  SELECT 1000002, '""" + TX46_BROKEN_ROW + """'),
        |all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM extra),
        |c AS (
        |  SELECT doc_id, text,
        |    len(regexp_extract_all(text, '<[^>]*>')) AS n_tags,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(
        |        regexp_replace(text, '<[^>]*>', ' ', 'g'),
        |        '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
        |        '&quot;', '"'),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM all_docs)
        |SELECT doc_id, CAST(n_tags AS BIGINT) AS n_tags,
        |  CAST(length(text) AS BIGINT) AS raw_len,
        |  CAST(length(clean) AS BIGINT) AS clean_len,
        |  substr(clean, 1, 48) AS clean_prefix
        |FROM c ORDER BY doc_id""").stripMargin),

    // UNIGRAM TOTAL-VARIATION DRIFT (the distribution-shift check a
    // corpus pipeline runs between two slices before mixing them —
    // TVD = ½ Σ_w |p₀(w) − p₁(w)| over the shared vocabulary): slices
    // are the deterministic doc_id parity halves; the per-token drift
    // score |c₀·N₁ − c₁·N₀| and the TVD numerator stay EXACT int64
    // cross-multiplications (never per-token float ratios, whose sum
    // would be order-dependent), with ONE final IEEE division for the
    // reported TVD. Output: the 10 most drifted tokens, each row also
    // carrying the corpus-level TVD. Scale: one token-keyed count
    // aggregate + a one-row totals broadcast + a top-10
    // TakeOrderedAndProject over the vocabulary — never the corpus.
    QuerySpec("tx47_unigram_tvd_drift", (s, dir) => {
      val tok = fanout(docs(s, dir))
        .selectExpr("doc_id", s"explode($tokExpr) AS tk")
      val cnt = tok.groupBy(col("tk"))
        .agg(sum(when(expr("doc_id % 2 = 0"), 1L).otherwise(0L)).as("c0"),
          sum(when(expr("doc_id % 2 = 1"), 1L).otherwise(0L)).as("c1"))
      val tot = cnt.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
      val scored = cnt.crossJoin(broadcast(tot))
        .withColumn("drift_num", abs(col("c0") * col("n1") -
          col("c1") * col("n0")))
      val tvd = scored.agg(sum(col("drift_num")).as("sn"),
        max(col("n0")).as("n0"), max(col("n1")).as("n1"))
        .select(col("n0"), col("n1"),
          expr("cast(sn as double) / cast(2 * n0 * n1 as double)")
            .as("tvd"))
      scored.select(col("tk"), col("c0"), col("c1"), col("drift_num"))
        .orderBy(col("drift_num").desc, col("tk"))
        .limit(10)
        .crossJoin(broadcast(tvd))
        .orderBy(col("drift_num").desc, col("tk"))
    },
      // identical parity halves and int64 cross-multiplied drift; the TVD
      // division is the same one tree
      s"""WITH tok AS (
        |  SELECT doc_id, unnest($dTok) AS tk FROM documents),
        |cnt AS (
        |  SELECT tk,
        |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1
        |  FROM tok GROUP BY tk),
        |tot AS (SELECT CAST(SUM(c0) AS BIGINT) AS n0,
        |               CAST(SUM(c1) AS BIGINT) AS n1 FROM cnt),
        |scored AS (
        |  SELECT tk, c0, c1, abs(c0 * n1 - c1 * n0) AS drift_num
        |  FROM cnt, tot),
        |tv AS (
        |  SELECT n0, n1,
        |    CAST(CAST(SUM(drift_num) AS BIGINT) AS DOUBLE)
        |      / CAST(2 * n0 * n1 AS DOUBLE) AS tvd
        |  FROM scored, tot GROUP BY n0, n1),
        |top AS (
        |  SELECT tk, c0, c1, drift_num FROM scored
        |  ORDER BY drift_num DESC, tk LIMIT 10)
        |SELECT top.tk, top.c0, top.c1, top.drift_num, tv.n0, tv.n1, tv.tvd
        |FROM top, tv ORDER BY drift_num DESC, tk""".stripMargin)
  )

  /** tx39's single-fold CDC cutter as a shared (doc_id, source, chunk)
    * stream — one md5 per character position (see the tx39 comment for
    * the CollapseProject history), explode_outer so the implicit
    * size()>0 filter of plain explode can't push the fold into the
    * scan. Shared by tx39 (chunk inventory) and tx40 (source matrix). */
  private def cdcChunkRows(s: SparkSession, dir: String): DataFrame =
    fanout(docs(s, dir))
      .selectExpr("doc_id", "source",
        """aggregate(
             sequence(8, greatest(length(text), 8)),
             named_struct('p', 0L, 'cs', cast(array() as array<string>)),
             (acc, i) -> if(i < length(text) AND
                 cast(conv(substr(md5(cast(substring(text, cast(i - 7 as int), 8) as binary)), 1, 2), 16, 10) as bigint) % 32 = 0,
               named_struct('p', i,
                 'cs', concat(acc.cs, array(substring(text, cast(acc.p + 1 as int), cast(i - acc.p as int))))),
               acc),
             acc -> concat(acc.cs, array(substring(text, cast(acc.p + 1 as int), cast(length(text) - acc.p as int))))) AS chunks""")
      .select(col("doc_id"), col("source"),
        explode_outer(col("chunks")).as("chunk"))

  /** Shared DuckDB replay of [[dsirWeights]] — CTE bodies only (no WITH),
    * ending in `d(doc_id, n_bigrams, w)`. */
  private def dsirSql: String =
    s"""toks AS (SELECT doc_id, source, $dTok AS tk FROM documents),
       |bg AS (
       |  SELECT doc_id, source,
       |    unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
       |  FROM toks WHERE len(tk) >= 2),
       |db AS (
       |  SELECT doc_id, source,
       |    CAST(((strpos('0123456789abcdef', substr(md5(bg), 1, 1)) - 1) * 16
       |      + (strpos('0123456789abcdef', substr(md5(bg), 2, 1)) - 1)) % 64 AS INT) AS bucket,
       |    COUNT(*) AS nb
       |  FROM bg GROUP BY doc_id, source, 3),
       |rawb AS (SELECT bucket, SUM(nb) AS raw FROM db GROUP BY bucket),
       |tgtb AS (SELECT bucket, SUM(nb) AS tgt FROM db WHERE source = 'src0' GROUP BY bucket),
       |tots AS (SELECT (SELECT SUM(raw) FROM rawb) AS tot_r,
       |                (SELECT SUM(tgt) FROM tgtb) AS tot_t),
       |lr AS (
       |  SELECT rawb.bucket,
       |    CAST(ROUND(ln(CAST((COALESCE(tgt, 0) + 1) * (tot_r + 64) AS DOUBLE)
       |      / CAST((raw + 1) * (tot_t + 64) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lr
       |  FROM rawb LEFT JOIN tgtb ON rawb.bucket = tgtb.bucket, tots),
       |d AS (
       |  SELECT doc_id, CAST(SUM(nb) AS BIGINT) AS n_bigrams, SUM(nb * lr) AS w
       |  FROM db JOIN lr USING (bucket) GROUP BY doc_id)""".stripMargin
}
