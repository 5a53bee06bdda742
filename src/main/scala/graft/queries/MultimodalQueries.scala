package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.sources.Tables

/** Oracle-checked entries for the multimodal pipeline (graft.multimodal).
  *
  * mm01 exercises the metadata path (binary column + pruned scan); mm02 runs
  * the REAL `Dataset.mapPartitions` decode/feature pipeline end-to-end — the
  * oracle replays the deterministic fake codec in SQL, so the whole typed
  * batch path (binary payload → decode → resize → frame-sample → features)
  * is hash-verified, not just rows-counted.
  */
object MultimodalQueries {

  /** Injected mm02 row covering 2-byte (é, ö), 3-byte (—, ✓, 模) and 4-byte
    * (🙂) UTF-8 code points — shared verbatim by the Spark query and the
    * oracle SQL literal. */
  private val MM02_UTF8_ROW = "héllo wörld — ünïcode ✓ 模型 🙂"

  val specs: Seq[QuerySpec] = Seq(
    // metadata-level stats over the binary column, grouped by modality
    QuerySpec("mm01_media_metadata", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(Tables.table(s, dir, "documents"))
      media.groupBy(col("format"))
        .agg(
          count(lit(1)).as("n_media"),
          sum(length(col("payload")).cast("long")).as("total_bytes"),
          (sum(length(col("payload")).cast("long")).cast("double") / count(lit(1))).as("avg_bytes"),
          min(md5(col("payload"))).as("min_md5"))
        .orderBy(col("format"))
    },
      // byte-based on both sides: octet_length of the UTF-8 encoding, not
      // character length, so a future non-ASCII fixture can't skew the compare
      // (DuckDB md5(VARCHAR) already hashes the UTF-8 bytes, matching Spark's
      // md5 over the encoded payload).
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'img'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS format,
        |    text FROM documents)
        |SELECT format, COUNT(*) AS n_media,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  CAST(SUM(octet_length(encode(text))) AS DOUBLE) / COUNT(*) AS avg_bytes,
        |  MIN(md5(text)) AS min_md5
        |FROM m GROUP BY format ORDER BY format""".stripMargin),

    // full decode → feature-extract pipeline via typed mapPartitions.
    // The oracle replays the codec per BYTE (hex-decoding the UTF-8 blob),
    // matching the engine exactly — and one multi-byte UTF-8 row (2/3/4-byte
    // code points) is injected on both sides so the compare would catch any
    // chars-vs-bytes confusion instead of hiding behind an ASCII fixture.
    QuerySpec("mm02_decoded_features", (s, dir) => {
      val base = Tables.table(s, dir, "documents").select(col("doc_id"), col("text"))
      // 1000003: multi-byte UTF-8; 1000004: EMPTY text — exercises the
      // zero-length decode branch (mean_intensity 0.0, 0 frames) that the
      // oracle mirrors with COALESCE/NULLIF instead of a NULL division
      val extra = s.range(1).select(lit(1000003L).as("doc_id"),
        lit(MM02_UTF8_ROW).as("text"))
        .unionByName(s.range(1).select(lit(1000004L).as("doc_id"),
          lit("").as("text")))
      Multimodal.documentFeatures(s, fanout(base.unionByName(extra)))
        .toDF()
        .select(col("media_id"), col("format"), col("n_bytes"), col("checksum"),
          col("mean_intensity"), col("n_frames").cast("long").as("n_frames"))
        .orderBy(col("media_id"))
    },
      // BYTE-based replay: the payload is the UTF-8 blob, byte i is recovered
      // from the hex dump (two hex digits per byte) — identical to the engine
      // for any text, multi-byte code points included.
      s"""WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'img'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS format,
        |    hex(encode(text)) AS h, octet_length(encode(text)) AS n
        |  FROM (SELECT doc_id, text FROM documents
        |        UNION ALL SELECT 1000003, '$MM02_UTF8_ROW'
        |        UNION ALL SELECT 1000004, '')),
        |d AS (
        |  SELECT media_id, format, n,
        |    list_transform(range(0, n), i -> xor(
        |      16 * (strpos('0123456789ABCDEF', substr(h, CAST(2*i + 1 AS INT), 1)) - 1)
        |         + strpos('0123456789ABCDEF', substr(h, CAST(2*i + 2 AS INT), 1)) - 1,
        |      90)) AS decoded,
        |    list_transform(range(0, n, 4), i -> xor(
        |      16 * (strpos('0123456789ABCDEF', substr(h, CAST(2*i + 1 AS INT), 1)) - 1)
        |         + strpos('0123456789ABCDEF', substr(h, CAST(2*i + 2 AS INT), 1)) - 1,
        |      90)) AS resized
        |  FROM m)
        |SELECT media_id, format, CAST(n AS BIGINT) AS n_bytes,
        |  list_reduce(list_prepend(0::BIGINT, decoded),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS checksum,
        |  COALESCE(CAST(list_sum(resized) AS DOUBLE) / NULLIF(len(resized), 0),
        |           0.0) AS mean_intensity,
        |  CASE WHEN format = 'video'
        |       THEN (CAST(CEIL(n / 64.0) AS BIGINT) + 1) // 2
        |       ELSE 1 END AS n_frames
        |FROM d ORDER BY media_id""".stripMargin),

    // decode pipeline over TRUE arbitrary binary payloads (0x00, >0x7f):
    // same typed mapPartitions path, payloads synthesized from a seeded
    // byte formula through a real BinaryType column (see
    // Multimodal.syntheticBinaryMedia); the oracle replays the formula.
    QuerySpec("mm03_binary_features", (s, dir) => {
      import s.implicits._
      Multimodal.extractFeatures(
          Multimodal.syntheticBinaryMedia(fanout(Tables.table(s, dir, "documents")))
            .as[Multimodal.MediaRecord])
        .toDF()
        .select(col("media_id"), col("format"), col("n_bytes"), col("checksum"),
          col("mean_intensity"), col("n_frames").cast("long").as("n_frames"))
        .orderBy(col("media_id"))
    },
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'img'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS format,
        |    64 + doc_id % 128 AS n
        |  FROM documents),
        |d AS (
        |  SELECT media_id, format, n,
        |    list_transform(range(0, n), i -> xor((media_id * 31 + i * 131) % 256, 90)) AS decoded,
        |    list_transform(range(0, n, 4), i -> xor((media_id * 31 + i * 131) % 256, 90)) AS resized
        |  FROM m)
        |SELECT media_id, format, CAST(n AS BIGINT) AS n_bytes,
        |  list_reduce(list_prepend(0::BIGINT, decoded),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS checksum,
        |  COALESCE(CAST(list_sum(resized) AS DOUBLE) / NULLIF(len(resized), 0),
        |           0.0) AS mean_intensity,
        |  CASE WHEN format = 'video'
        |       THEN (CAST(CEIL(n / 64.0) AS BIGINT) + 1) // 2
        |       ELSE 1 END AS n_frames
        |FROM d ORDER BY media_id""".stripMargin),

    // REAL codec end-to-end: genuine BMP (bottom-up rows, 4-byte padding)
    // and RIFF/WAVE (chunk walk past a JUNK chunk, odd-size pad byte)
    // containers are synthesized on the executors, then decoded by the real
    // header/chunk parsers in graft.multimodal.MediaCodecs. The oracle
    // replays the CONTENT formulas only — it never parses a byte — so any
    // parser slip (row flip, padding read as pixels, fixed-offset data,
    // sample sign) diverges and flips the compare red.
    QuerySpec("mm04_container_decode", (s, dir) => {
      Multimodal.decodeContainers(
          Multimodal.syntheticContainers(fanout(Tables.table(s, dir, "documents"))))
        .toDF()
        .orderBy(col("media_id"))
    },
      // Replays the mm04 content formulas arithmetically (never parses bytes):
      //   BMP m: w=4+m%5, h=3+m%4, channel j = (m*31+j)%256;
      //          container size = 54 + h*rowstride, rowstride = ceil(3w/4)*4
      //   WAV m: n=32+m%64, u16 sample i = (m*131+i*17)%65536 (signed for the
      //          mean, raw u16 for the checksum); container size = 44 + junk
      //          chunk (8 + 5+m%3 rounded up to even) + 2n
      """WITH m AS (SELECT doc_id AS media_id FROM documents),
        |bmp AS (
        |  SELECT media_id, 4 + media_id % 5 AS w, 3 + media_id % 4 AS h
        |  FROM m WHERE media_id % 2 = 0),
        |bmpd AS (
        |  SELECT media_id, 'img' AS format,
        |    CAST(54 + h * ((3*w + 3) // 4 * 4) AS BIGINT) AS n_bytes,
        |    CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |    0::BIGINT AS sample_rate,
        |    CAST(w*h*3 AS BIGINT) AS n_samples,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(0, w*h*3), j -> (media_id*31 + j) % 256)),
        |      (acc, v) -> (acc*31 + v) % 1000000007) AS checksum,
        |    CAST(list_sum(list_transform(range(0, w*h*3),
        |      j -> (media_id*31 + j) % 256)) AS DOUBLE) / (w*h*3) AS mean_val
        |  FROM bmp),
        |wav AS (
        |  SELECT media_id, 32 + media_id % 64 AS n, 5 + media_id % 3 AS junk
        |  FROM m WHERE media_id % 2 = 1),
        |wavd AS (
        |  SELECT media_id, 'audio' AS format,
        |    CAST(44 + 8 + junk + junk % 2 + 2*n AS BIGINT) AS n_bytes,
        |    0::BIGINT AS width, 0::BIGINT AS height,
        |    16000::BIGINT AS sample_rate,
        |    CAST(n AS BIGINT) AS n_samples,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(0, n), i -> (media_id*131 + i*17) % 65536)),
        |      (acc, v) -> (acc*31 + v) % 1000000007) AS checksum,
        |    CAST(list_sum(list_transform(range(0, n), i ->
        |      CASE WHEN (media_id*131 + i*17) % 65536 >= 32768
        |           THEN (media_id*131 + i*17) % 65536 - 65536
        |           ELSE (media_id*131 + i*17) % 65536 END)) AS DOUBLE) / n AS mean_val
        |  FROM wav)
        |SELECT * FROM bmpd
        |UNION ALL SELECT * FROM wavd ORDER BY media_id""".stripMargin),

    // FRAME-SAMPLING through the real WAV parser: PCM split into 16-sample
    // frames, every 4th frame kept, each reduced to exact integer features
    // on the executor (mm04's decode stage extended one step down the media
    // pipeline). rms is the only float — one shared division+sqrt tree over
    // exact longs. The oracle replays the sample formula arithmetically
    // (signed-i16 reconstruction included) without parsing a byte.
    QuerySpec("mm05_frame_features", (s, dir) => {
      Multimodal.audioFrames(
          Multimodal.syntheticContainers(fanout(Tables.table(s, dir, "documents"))
            .filter(col("doc_id") % 2 === 1)),
          frameLen = 16, everyK = 4)
        .toDF()
        .withColumn("rms",
          round(sqrt(col("sum_sq").cast("double") / col("n_samples").cast("double")), 6))
        .orderBy(col("media_id"), col("frame_idx"))
    },
      // arithmetic replay of the frame-sampled WAV path: n = 32+m%64 signed
      // i16 samples, frames of 16, every 4th kept (the last frame may be
      // short when n % 16 != 0 — replayed by the least() bound)
      """WITH a AS (
        |  SELECT doc_id AS media_id, 32 + doc_id % 64 AS n
        |  FROM documents WHERE doc_id % 2 = 1),
        |fr AS (
        |  SELECT media_id, n, unnest(range(0, (n + 15) // 16)) AS frame_idx
        |  FROM a),
        |sampled AS (SELECT * FROM fr WHERE frame_idx % 4 = 0),
        |s AS (
        |  SELECT media_id, frame_idx,
        |    unnest(range(frame_idx*16, least(frame_idx*16 + 16, n))) AS i
        |  FROM sampled),
        |v AS (
        |  SELECT media_id, frame_idx,
        |    CASE WHEN (media_id*131 + i*17) % 65536 >= 32768
        |         THEN (media_id*131 + i*17) % 65536 - 65536
        |         ELSE (media_id*131 + i*17) % 65536 END AS val
        |  FROM s),
        |g AS (
        |  SELECT media_id, frame_idx, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |    CAST(SUM(val) AS BIGINT) AS sum_val,
        |    CAST(SUM(val * val) AS BIGINT) AS sum_sq,
        |    CAST(MAX(abs(val)) AS BIGINT) AS peak
        |  FROM v GROUP BY media_id, frame_idx)
        |SELECT media_id, frame_idx, n_samples, sum_val, sum_sq, peak,
        |  ROUND(sqrt(CAST(sum_sq AS DOUBLE) / CAST(n_samples AS DOUBLE)), 6) AS rms
        |FROM g ORDER BY media_id, frame_idx""".stripMargin),

    // IMAGE RESIZE through the real BMP parser: each decoded image is
    // nearest-neighbour-downsampled to a fixed 3×2 thumbnail on the
    // executor (mm04's decode stage extended one step: decode → resize →
    // features). Sums are exact integers; the oracle replays the sampled
    // source coordinates ⌊x2·w/3⌋, ⌊y2·h/2⌋ and the channel formula
    // arithmetically, never parsing a byte.
    QuerySpec("mm06_image_resize", (s, dir) => {
      Multimodal.imageThumbnails(
          Multimodal.syntheticContainers(fanout(Tables.table(s, dir, "documents"))
            .filter(col("doc_id") % 2 === 0)),
          w2 = 3, h2 = 2)
        .toDF()
        .withColumn("mean_lum",
          round((col("r_sum") + col("g_sum") + col("b_sum")).cast("double") / 18, 6))
        .orderBy(col("media_id"))
    },
      // replay of mm06: BMP dims w = 4 + m%5, h = 3 + m%4; channel value at
      // (x, y, c) is (m·31 + ((y·w + x)·3 + c)) % 256; the 3×2 thumbnail
      // samples x = (x2·w)//3, y = (y2·h)//2
      """WITH m AS (
        |  SELECT doc_id AS media_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |px AS (
        |  SELECT media_id, w, h, c,
        |    (media_id * 31 + (((y2 * h) // 2) * w + ((x2 * w) // 3)) * 3 + c) % 256
        |      AS v
        |  FROM m, range(0, 3) tx(x2), range(0, 2) ty(y2), range(0, 3) tc(c))
        |SELECT media_id,
        |  CAST(MIN(w) AS BIGINT) AS width, CAST(MIN(h) AS BIGINT) AS height,
        |  CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS b_sum,
        |  CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS g_sum,
        |  CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS r_sum,
        |  ROUND(CAST(SUM(v) AS DOUBLE) / 18, 6) AS mean_lum
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin),

    // COMPRESSED-container decode: real PNGs (zlib deflate via the JDK,
    // CRC-32-framed chunks, None/Sub/Up filter cycling, the stream split
    // across two IDAT chunks) synthesized and decoded on the executors.
    // The oracle replays the pixel formula only — any slip in the chunk
    // walk, CRC check, IDAT reassembly, inflate loop or filter predictors
    // flips checksum/mean red. Container size is deliberately NOT output:
    // deflate length is implementation-defined.
    QuerySpec("mm07_png_decode", (s, dir) =>
      Multimodal.decodePngs(
          Multimodal.syntheticPngs(fanout(Tables.table(s, dir, "documents"))
            .filter(col("doc_id") % 3 === 0)))
        .toDF()
        .orderBy(col("media_id")),
      // replay of mm07: PNG m has w = 3 + m%6, h = 2 + m%5, channel
      // j = (m*37 + j*11) % 256 top-down RGB — the oracle sees only the
      // formula; compression, chunking and filtering live entirely in the
      // engine's encode/decode round trip
      """WITH m AS (
        |  SELECT doc_id AS media_id, 3 + doc_id % 6 AS w, 2 + doc_id % 5 AS h
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT media_id,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(w*h*3 AS BIGINT) AS n_channels,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(0, w*h*3), j -> (media_id*37 + j*11) % 256)),
        |    (acc, v) -> (acc*31 + v) % 1000000007) AS checksum,
        |  CAST(list_sum(list_transform(range(0, w*h*3),
        |    j -> (media_id*37 + j*11) % 256)) AS DOUBLE) / (w*h*3) AS mean_val
        |FROM m ORDER BY media_id""".stripMargin),

    // AUDIO RESAMPLING through the real WAV parser: each clip rate-
    // converts 16 kHz → 6 kHz by nearest-neighbour index mapping
    // (⌊j·src/dst⌋ — deliberately a non-integer ratio so the mapping
    // exercises the floor arithmetic, not just stride-2 decimation) and
    // reduces to exact integer features; rms is the only float, one
    // shared division+sqrt tree. The oracle replays the index mapping and
    // the signed-i16 sample formula arithmetically.
    // INTEGER HAAR FILTERBANK over real decoded WAVs — the multimodal
    // feature-extraction shape where the transform itself must be
    // hash-exact: unnormalized Haar band energies (levels 1–3 + the
    // level-3 approximation) over each clip's first 32 samples, all
    // 64-bit integer sums/differences/squares, plus the dominant detail
    // level. Decode + filterbank run in one mapPartitions pass; each clip
    // reduces to 5 longs and an int — samples never shuffle.
    QuerySpec("mm18_wavelet_energy", (s, dir) =>
      Multimodal.audioWaveletEnergy(
          Multimodal.syntheticContainers(fanout(Tables.table(s, dir, "documents"))
            .filter(col("doc_id") % 2 === 1)))
        .toDF()
        .orderBy(col("media_id")),
      // replay of mm09: WAV m has n = 32 + m%64 samples of
      // (m*131 + i*17) mod 65536 as signed i16; resampled index map
      // src = 8j//3, n_out = 3n//8
      // mm18: the sample formula → pairwise sum/difference pyramid (three
      // GROUP BY halvings) → integer band energies + dominant level
      """WITH m AS (
        |  SELECT doc_id AS media_id FROM documents WHERE doc_id % 2 = 1),
        |s AS (
        |  SELECT media_id, i,
        |    CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
        |  FROM (SELECT media_id, i, (media_id * 131 + i * 17) % 65536 AS u
        |        FROM m, range(0, 32) t(i))),
        |p1 AS (
        |  SELECT media_id, i // 2 AS j,
        |    SUM(CASE WHEN i % 2 = 0 THEN v ELSE -v END) AS d,
        |    SUM(v) AS a
        |  FROM s GROUP BY media_id, i // 2),
        |p2 AS (
        |  SELECT media_id, j // 2 AS k,
        |    SUM(CASE WHEN j % 2 = 0 THEN a ELSE -a END) AS d,
        |    SUM(a) AS a2
        |  FROM p1 GROUP BY media_id, j // 2),
        |p3 AS (
        |  SELECT media_id, k // 2 AS l,
        |    SUM(CASE WHEN k % 2 = 0 THEN a2 ELSE -a2 END) AS d,
        |    SUM(a2) AS a3
        |  FROM p2 GROUP BY media_id, k // 2),
        |e AS (
        |  SELECT media_id,
        |    (SELECT CAST(SUM(d * d) AS BIGINT) FROM p1
        |     WHERE p1.media_id = mm.media_id) AS e1,
        |    (SELECT CAST(SUM(d * d) AS BIGINT) FROM p2
        |     WHERE p2.media_id = mm.media_id) AS e2,
        |    (SELECT CAST(SUM(d * d) AS BIGINT) FROM p3
        |     WHERE p3.media_id = mm.media_id) AS e3,
        |    (SELECT CAST(SUM(a3 * a3) AS BIGINT) FROM p3
        |     WHERE p3.media_id = mm.media_id) AS ea3
        |  FROM m mm)
        |SELECT media_id, e1, e2, e3, ea3,
        |  CASE WHEN e1 >= e2 AND e1 >= e3 THEN 1
        |       WHEN e2 >= e3 THEN 2 ELSE 3 END AS dominant
        |FROM e ORDER BY media_id""".stripMargin),

    QuerySpec("mm09_audio_resample", (s, dir) =>
      Multimodal.resampleAudio(
          Multimodal.syntheticContainers(fanout(Tables.table(s, dir, "documents"))
            .filter(col("doc_id") % 2 === 1)),
          dstRate = 6000)
        .toDF()
        .withColumn("rms",
          round(sqrt(col("sum_sq").cast("double") / col("n_out").cast("double")), 6))
        .orderBy(col("media_id")),
      """WITH m AS (
        |  SELECT doc_id AS media_id, 32 + doc_id % 64 AS n
        |  FROM documents WHERE doc_id % 2 = 1),
        |o AS (SELECT media_id, n, 3 * n // 8 AS n_out FROM m),
        |s AS (
        |  SELECT media_id, n, n_out,
        |    (media_id * 131 + (8 * j // 3) * 17) % 65536 AS u
        |  FROM (SELECT media_id, n, n_out, unnest(range(n_out)) AS j FROM o)),
        |v AS (SELECT media_id, n, n_out,
        |        CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
        |      FROM s)
        |SELECT media_id,
        |  CAST(16000 AS BIGINT) AS src_rate, CAST(6000 AS BIGINT) AS dst_rate,
        |  CAST(n AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
        |  CAST(SUM(v) AS BIGINT) AS sum_val,
        |  CAST(SUM(v * v) AS BIGINT) AS sum_sq,
        |  CAST(MAX(abs(v)) AS BIGINT) AS peak,
        |  ROUND(sqrt(CAST(SUM(v * v) AS DOUBLE) / CAST(n_out AS DOUBLE)), 6)
        |    AS rms
        |FROM v GROUP BY media_id, n, n_out ORDER BY media_id""".stripMargin),

    // PERCEPTUAL-HASH IMAGE DEDUP — the multimodal leg of the dedup
    // family (tx01 exact, tx05 MinHash, tx08 SimHash, v16 semantic):
    // real BMPs decode to a 64-bit aHash (8×8 strict-above-mean grid,
    // all-integer — see [[Multimodal.imageAHash]]), then near-dup pairs
    // come from 4×16-bit BAND BLOCKING: ham ≤ 3 over 4 bands pigeonholes
    // at least one band identical, so the band join finds EVERY
    // qualifying pair — the oracle's all-pairs replay would catch a
    // missed one as a hash mismatch. Scale shape: images reduce to two
    // longs map-side; the only shuffle is the (band, value) join — the
    // SimHash plan, never O(n²) on payloads.
    QuerySpec("mm08_phash_dedup", (s, dir) => {
      // Scale-capped media sample (the v37 stride discipline; r11 mm
      // cost ladder): the BMP fixture has 40 distinct images by
      // construction, so identical hashes form exact-dup classes of
      // n/40 and the band self-join's PAIR OUTPUT is Θ(n²) in media
      // count — a semantics problem, not a plan problem. The stride
      // keeps every gate-scale doc (500 docs → stride 2, bit-identical
      // oracle) and pins the diagnostic to ~250 media at any rung. The
      // production path for full-corpus image dedup is exact-hash
      // cluster collapse FIRST (tx01's shape), not all within-class
      // pairs; this query is the hash-quality diagnostic.
      val docsT = Tables.table(s, dir, "documents")
      val stride = 2L * math.max(1L, docsT.count() / 500L)
      val hashes = Multimodal.imageAHash(
          Multimodal.syntheticNearDupBmps(fanout(docsT)
            .filter(col("doc_id") % stride === 0)))
        .toDF()
      val banded = hashes.select(col("media_id"), col("lo"), col("hi"),
          posexplode(array(
            expr("lo & 65535"), expr("shiftrightunsigned(lo, 16) & 65535"),
            expr("hi & 65535"), expr("shiftrightunsigned(hi, 16) & 65535")))
            .as(Seq("band", "bval")))
      val a = banded.select(col("band"), col("bval"),
        col("media_id").as("media_a"), col("lo").as("lo_a"), col("hi").as("hi_a"))
      val b = banded.select(col("band"), col("bval"),
        col("media_id").as("media_b"), col("lo").as("lo_b"), col("hi").as("hi_b"))
      a.join(b, Seq("band", "bval"))
        .filter(col("media_a") < col("media_b"))
        .select(col("media_a"), col("media_b"),
          expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)").cast("long")
            .as("ham"))
        .distinct()
        .filter(col("ham") <= 3)
        .orderBy(col("media_a"), col("media_b"))
    },
      // arithmetic replay of the whole aHash dedup: sampled pixel p of image
      // m has source channels j = 3·(32·(p/8) + 2·(p%8)) + c, value
      // ((m%8)·37 + j·13 + [p < (m/8)%5]·128) mod 256; bit p iff
      // 64·gray(p) > Σgray (the cross-multiplied strict mean threshold);
      // then ALL pairs at ham ≤ 3 — if the engine's band blocking ever
      // missed a qualifying pair, this all-pairs ground truth flips the hash
      """WITH ms AS (
        |  SELECT doc_id AS m FROM documents WHERE doc_id % 2 = 0),
        |g AS (
        |  SELECT m, p,
        |    list_sum(list_transform(range(3), c ->
        |      ((m % 8) * 37 + (3 * (32 * (p // 8) + 2 * (p % 8)) + c) * 13
        |       + CASE WHEN p < (m // 8) % 5 THEN 128 ELSE 0 END) % 256))
        |      AS gray
        |  FROM ms, (SELECT unnest(range(64)) AS p)),
        |h AS (
        |  SELECT m,
        |    SUM(CASE WHEN p < 32 AND 64 * gray > tot
        |        THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END)::BIGINT AS lo,
        |    SUM(CASE WHEN p >= 32 AND 64 * gray > tot
        |        THEN (1::BIGINT << CAST(p - 32 AS INT)) ELSE 0 END)::BIGINT AS hi
        |  FROM (SELECT m, p, gray, SUM(gray) OVER (PARTITION BY m) AS tot
        |        FROM g)
        |  GROUP BY m)
        |SELECT a.m AS media_a, b.m AS media_b,
        |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
        |    AS BIGINT) AS ham
        |FROM h a JOIN h b ON a.m < b.m
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |ORDER BY media_a, media_b""".stripMargin),

    // GRADIENT-vs-LEVEL perceptual-hash AGREEMENT: mm08's aHash family
    // dedup re-run under dHash (horizontal-gradient bits) with the aHash
    // verdict joined per pair — the two-hash cross-check a production
    // image-dedup pipeline uses to cut false positives (a pair is a dup
    // when BOTH the level field and the gradient field agree). Banding:
    // 4 × 14-bit bands over the 56-bit dHash, pigeonhole-complete at
    // ham ≤ 3 (the mm08 discipline); hash frames are 2-long rows, pixels
    // never shuffle; both hash frames feed two join sides each → eager
    // checkpoints.
    QuerySpec("mm17_dhash_agreement", (s, dir) => {
      // same scale-capped sample as mm08 (and the same reason: the
      // dHash comparison cancels the m%8 term, leaving FIVE distinct
      // dHashes — within-class pairs are Θ(n²) of media; the r11 ladder
      // measured 2.7 → 38 s at 1×→8× and a DNF-class 32×)
      val docsT = Tables.table(s, dir, "documents")
      val stride = 2L * math.max(1L, docsT.count() / 500L)
      val media = Multimodal.syntheticNearDupBmps(
        fanout(docsT).filter(col("doc_id") % stride === 0))
      val dhs = Multimodal.imageDHash(media).toDF().localCheckpoint(true)
      val ahs = Multimodal.imageAHash(media).toDF().localCheckpoint(true)
      val banded = dhs.select(col("media_id"), col("dh"),
        posexplode(array(
          expr("dh & 16383"), expr("shiftrightunsigned(dh, 14) & 16383"),
          expr("shiftrightunsigned(dh, 28) & 16383"),
          expr("shiftrightunsigned(dh, 42) & 16383")))
          .as(Seq("band", "bval")))
      val a = banded.select(col("band"), col("bval"),
        col("media_id").as("media_a"), col("dh").as("dh_a"))
      val b = banded.select(col("band"), col("bval"),
        col("media_id").as("media_b"), col("dh").as("dh_b"))
      a.join(b, Seq("band", "bval"))
        .filter(col("media_a") < col("media_b"))
        .select(col("media_a"), col("media_b"),
          expr("bit_count(dh_a ^ dh_b)").cast("long").as("dham"))
        .distinct()
        .filter(col("dham") <= 3)
        .join(ahs.select(col("media_id").as("media_a"),
          col("lo").as("lo_a"), col("hi").as("hi_a")), "media_a")
        .join(ahs.select(col("media_id").as("media_b"),
          col("lo").as("lo_b"), col("hi").as("hi_b")), "media_b")
        .withColumn("aham",
          expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)").cast("long"))
        .withColumn("agree", col("aham") <= 3)
        .select(col("media_a"), col("media_b"), col("dham"), col("aham"),
          col("agree"))
        .orderBy(col("media_a"), col("media_b"))
    },
      // mm08's gray formula → 56-bit dHash (row-wise left>right bits) →
      // ham≤3 pairs → aHash verdict joined per pair
      """WITH ms AS (
        |  SELECT doc_id AS m FROM documents WHERE doc_id % 2 = 0),
        |g AS (
        |  SELECT m, p,
        |    list_sum(list_transform(range(3), c ->
        |      ((m % 8) * 37 + (3 * (32 * (p // 8) + 2 * (p % 8)) + c) * 13
        |       + CASE WHEN p < (m // 8) % 5 THEN 128 ELSE 0 END) % 256))
        |      AS gray
        |  FROM ms, (SELECT unnest(range(64)) AS p)),
        |dh AS (
        |  SELECT l.m,
        |    CAST(SUM(CASE WHEN l.gray > r.gray
        |      THEN (1::BIGINT << CAST((l.p // 8) * 7 + (l.p % 8) AS INT))
        |      ELSE 0 END) AS BIGINT) AS dh
        |  FROM g l JOIN g r ON r.m = l.m AND r.p = l.p + 1 AND l.p % 8 < 7
        |  GROUP BY l.m),
        |ah AS (
        |  SELECT m,
        |    SUM(CASE WHEN p < 32 AND 64 * gray > tot
        |        THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END)::BIGINT AS lo,
        |    SUM(CASE WHEN p >= 32 AND 64 * gray > tot
        |        THEN (1::BIGINT << CAST(p - 32 AS INT)) ELSE 0 END)::BIGINT AS hi
        |  FROM (SELECT m, p, gray, SUM(gray) OVER (PARTITION BY m) AS tot
        |        FROM g)
        |  GROUP BY m),
        |pr AS (
        |  SELECT a.m AS media_a, b.m AS media_b,
        |    bit_count(xor(a.dh, b.dh)) AS dham
        |  FROM dh a JOIN dh b ON a.m < b.m
        |  WHERE bit_count(xor(a.dh, b.dh)) <= 3)
        |SELECT media_a, media_b, CAST(dham AS BIGINT) AS dham,
        |  CAST(bit_count(xor(ha.lo, hb.lo)) + bit_count(xor(ha.hi, hb.hi))
        |    AS BIGINT) AS aham,
        |  (bit_count(xor(ha.lo, hb.lo)) + bit_count(xor(ha.hi, hb.hi))) <= 3
        |    AS agree
        |FROM pr JOIN ah ha ON ha.m = media_a JOIN ah hb ON hb.m = media_b
        |ORDER BY media_a, media_b""".stripMargin),

    // PRODUCTION IMAGE-DEDUP COMPOSITION — the end-to-end multimodal
    // dedup form (mm08/mm17 are the stride-capped hash-QUALITY
    // diagnostics; their exclusion notes name THIS path as the scale
    // answer): (1) exact-dup collapse FIRST, by sha2-256 over the raw
    // container BYTES — the tx01 shape: one map-side hash per image,
    // never decodes a pixel, and min_by keeps one representative payload
    // per cluster so the corpus is GENERATED/SCANNED EXACTLY ONCE (the
    // shuffle carries ≤ |distinct contents| × partitions ~800-byte
    // payloads, not the corpus); (2) decode + perceptual hashes for the
    // representatives ONLY; (3) dHash band join + aHash agreement between
    // representatives, each pair carrying both cluster sizes. Full corpus
    // in, NO stride: cluster cardinality is bounded by distinct content
    // (the unfiltered family has 8×5 = 40 classes; the doc_id % 2 === 0
    // filter keeps only even residues m%8 ∈ {0,2,4,6}, so 4×5 = 20 here)
    // however large the corpus grows, so the pair stage is O(|clusters|²)
    // worst-case on a frame that never grows — MLADDER measures the whole
    // composition flat across rungs.
    QuerySpec("mm25_image_dedup_pipeline", (s, dir) => {
      import s.implicits._
      val media = Multimodal.syntheticNearDupBmps(
        fanout(Tables.table(s, dir, "documents"))
          .filter(col("doc_id") % 2 === 0))
      // stage 1: exact byte collapse (map-side combine keeps one payload
      // per sha per partition — pixels effectively never shuffle)
      val clusters = media.toDF()
        .groupBy(sha2(col("payload"), 256).as("sha"))
        .agg(min(col("media_id")).as("media_id"),
          count(lit(1)).as("cluster_size"),
          min_by(col("payload"), col("media_id")).as("payload"))
        .drop("sha")
        .localCheckpoint(true)
      val sizes = clusters.select(col("media_id"), col("cluster_size"))
      // stage 2: decode + hash the ≤40 representatives only
      val repCont = clusters.select(col("media_id"), col("payload"))
        .as[graft.multimodal.Multimodal.Container]
      val dhs = Multimodal.imageDHash(repCont).toDF().localCheckpoint(true)
      val ahs = Multimodal.imageAHash(repCont).toDF().localCheckpoint(true)
      // stage 3: mm17's banding discipline (pigeonhole-complete at
      // dham ≤ 3) over the representative frame
      val banded = dhs.select(col("media_id"), col("dh"),
        posexplode(array(
          expr("dh & 16383"), expr("shiftrightunsigned(dh, 14) & 16383"),
          expr("shiftrightunsigned(dh, 28) & 16383"),
          expr("shiftrightunsigned(dh, 42) & 16383")))
          .as(Seq("band", "bval")))
      val a = banded.select(col("band"), col("bval"),
        col("media_id").as("media_a"), col("dh").as("dh_a"))
      val b = banded.select(col("band"), col("bval"),
        col("media_id").as("media_b"), col("dh").as("dh_b"))
      a.join(b, Seq("band", "bval"))
        .filter(col("media_a") < col("media_b"))
        .select(col("media_a"), col("media_b"),
          expr("bit_count(dh_a ^ dh_b)").cast("long").as("dham"))
        .distinct()
        .filter(col("dham") <= 3)
        .join(ahs.select(col("media_id").as("media_a"),
          col("lo").as("lo_a"), col("hi").as("hi_a")), "media_a")
        .join(ahs.select(col("media_id").as("media_b"),
          col("lo").as("lo_b"), col("hi").as("hi_b")), "media_b")
        .join(sizes.select(col("media_id").as("media_a"),
          col("cluster_size").as("size_a")), "media_a")
        .join(sizes.select(col("media_id").as("media_b"),
          col("cluster_size").as("size_b")), "media_b")
        .withColumn("aham",
          expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)").cast("long"))
        .withColumn("agree", col("aham") <= 3)
        .select(col("media_a"), col("media_b"), col("size_a"), col("size_b"),
          col("dham"), col("aham"), col("agree"))
        .orderBy(col("media_a"), col("media_b"))
    },
      // mm25: the exact-dup classes replayed ARITHMETICALLY — image content
      // is a pure function of (m%8, (m//8)%5) (the generator's family ×
      // perturbation key), so the engine's sha2-over-bytes collapse must
      // land exactly on these classes (any decode/write slip changes a
      // byte, splits a class, and flips cluster_size/representative red);
      // then mm17's dHash/aHash formulas over the representatives only
      """WITH ms AS (
        |  SELECT doc_id AS m FROM documents WHERE doc_id % 2 = 0),
        |cl AS (
        |  SELECT MIN(m) AS m, COUNT(*) AS cluster_size
        |  FROM ms GROUP BY m % 8, (m // 8) % 5),
        |g AS (
        |  SELECT cl.m, p,
        |    list_sum(list_transform(range(3), c ->
        |      ((cl.m % 8) * 37 + (3 * (32 * (p // 8) + 2 * (p % 8)) + c) * 13
        |       + CASE WHEN p < (cl.m // 8) % 5 THEN 128 ELSE 0 END) % 256))
        |      AS gray
        |  FROM cl, (SELECT unnest(range(64)) AS p)),
        |dh AS (
        |  SELECT l.m,
        |    CAST(SUM(CASE WHEN l.gray > r.gray
        |      THEN (1::BIGINT << CAST((l.p // 8) * 7 + (l.p % 8) AS INT))
        |      ELSE 0 END) AS BIGINT) AS dh
        |  FROM g l JOIN g r ON r.m = l.m AND r.p = l.p + 1 AND l.p % 8 < 7
        |  GROUP BY l.m),
        |ah AS (
        |  SELECT m,
        |    SUM(CASE WHEN p < 32 AND 64 * gray > tot
        |        THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END)::BIGINT AS lo,
        |    SUM(CASE WHEN p >= 32 AND 64 * gray > tot
        |        THEN (1::BIGINT << CAST(p - 32 AS INT)) ELSE 0 END)::BIGINT AS hi
        |  FROM (SELECT m, p, gray, SUM(gray) OVER (PARTITION BY m) AS tot
        |        FROM g)
        |  GROUP BY m),
        |pr AS (
        |  SELECT a.m AS media_a, b.m AS media_b,
        |    bit_count(xor(a.dh, b.dh)) AS dham
        |  FROM dh a JOIN dh b ON a.m < b.m
        |  WHERE bit_count(xor(a.dh, b.dh)) <= 3)
        |SELECT media_a, media_b,
        |  CAST(ca.cluster_size AS BIGINT) AS size_a,
        |  CAST(cb.cluster_size AS BIGINT) AS size_b,
        |  CAST(dham AS BIGINT) AS dham,
        |  CAST(bit_count(xor(ha.lo, hb.lo)) + bit_count(xor(ha.hi, hb.hi))
        |    AS BIGINT) AS aham,
        |  (bit_count(xor(ha.lo, hb.lo)) + bit_count(xor(ha.hi, hb.hi))) <= 3
        |    AS agree
        |FROM pr JOIN ah ha ON ha.m = media_a JOIN ah hb ON hb.m = media_b
        |  JOIN cl ca ON ca.m = media_a JOIN cl cb ON cb.m = media_b
        |ORDER BY media_a, media_b""".stripMargin),

    // VIDEO-shaped FRAME EXTRACTION: real animated GIF89a containers
    // (multi-frame, NETSCAPE looping extension, per-frame GCE delays)
    // synthesized and decoded on the executors through a full LZW
    // decompressor — variable-width codes, CLEAR/EOI, KwKwK, dictionary
    // width growth ([[graft.multimodal.MediaCodecs.Gif]]). One feature
    // row per frame; the oracle replays the pixel formula only, so a slip
    // in the block walk, sub-block chains or LZW state flips
    // checksum/mean red. Frame fan-out happens map-side on the executors
    // — no shuffle before per-frame rows exist.
    QuerySpec("mm10_gif_frames", (s, dir) =>
      Multimodal.gifFrames(
          Multimodal.syntheticGifs(fanout(Tables.table(s, dir, "documents"))
            .filter(col("doc_id") % 4 === 2)))
        .toDF()
        .orderBy(col("media_id"), col("frame_idx")),
      // replay of mm10: GIF m has 1 + m%3 frames of (2 + m%4) × (2 + m%3)
      // pixels, frame f pixel p = (m*31 + f*17 + p*7) % 256, delay
      // 4 + (m+f)%7 cs — the oracle sees only the formula; the container
      // framing and LZW stream live entirely in the engine's round trip
      """WITH m AS (
        |  SELECT doc_id AS media_id, 2 + doc_id % 4 AS w, 2 + doc_id % 3 AS h,
        |    1 + doc_id % 3 AS nf
        |  FROM documents WHERE doc_id % 4 = 2),
        |f AS (
        |  SELECT media_id, w, h, CAST(fi AS BIGINT) AS frame_idx
        |  FROM m, LATERAL unnest(range(0, nf)) t(fi))
        |SELECT media_id, frame_idx,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(4 + (media_id + frame_idx) % 7 AS BIGINT) AS delay_cs,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(0, w*h),
        |      p -> (media_id*31 + frame_idx*17 + p*7) % 256)),
        |    (acc, v) -> (acc*31 + v) % 1000000007) AS checksum,
        |  CAST(list_sum(list_transform(range(0, w*h),
        |    p -> (media_id*31 + frame_idx*17 + p*7) % 256)) AS DOUBLE) / (w*h)
        |    AS mean_val
        |FROM f ORDER BY media_id, frame_idx""".stripMargin),

    // SCENE-CHANGE keyframe selection over the same animated clips:
    // per-clip argmax of the exact integer L1 frame-to-frame pixel
    // distance, computed entirely inside one mapPartitions pass (frames
    // never leave the executor — zero shuffles). The oracle replays the
    // pixel formula's pairwise distances, so a decode slip OR a wrong
    // argmax/tie-break flips the verdict red.
    QuerySpec("mm11_gif_keyframes", (s, dir) =>
      Multimodal.gifKeyframes(
          Multimodal.syntheticGifs(fanout(Tables.table(s, dir, "documents"))
            .filter(col("doc_id") % 4 === 2)))
        .toDF()
        .orderBy(col("media_id")),
      // replay of mm11: pairwise L1 distances from the same pixel formula,
      // argmax with earliest-frame tie-break; single-frame clips keep
      // frame 0 at zero energy
      """WITH m AS (
        |  SELECT doc_id AS media_id, 2 + doc_id % 4 AS w, 2 + doc_id % 3 AS h,
        |    1 + doc_id % 3 AS nf
        |  FROM documents WHERE doc_id % 4 = 2),
        |d AS (
        |  SELECT media_id, nf, CAST(fi AS BIGINT) AS fi,
        |    CAST(list_sum(list_transform(range(0, w*h), p ->
        |      abs((media_id*31 + fi*17 + p*7) % 256
        |        - (media_id*31 + (fi-1)*17 + p*7) % 256))) AS BIGINT) AS diff
        |  FROM m, LATERAL unnest(range(1, nf)) t(fi)),
        |r AS (
        |  SELECT media_id, nf, fi, diff,
        |    ROW_NUMBER() OVER (PARTITION BY media_id
        |      ORDER BY diff DESC, fi) AS rn
        |  FROM d)
        |SELECT media_id, CAST(nf AS BIGINT) AS n_frames,
        |  fi AS key_frame, diff AS max_diff
        |FROM r WHERE rn = 1
        |UNION ALL
        |SELECT media_id, 1, 0, 0 FROM m WHERE nf = 1
        |ORDER BY media_id""".stripMargin),

    // UNIVERSAL container sniffing over a genuinely MIXED corpus: BMPs,
    // WAVs, PNGs and animated GIFs interleaved by id class, dispatched by
    // MAGIC BYTES (no format column exists) through the four real
    // parsers. The oracle replays each id class's content formula, so a
    // mis-sniff (wrong parser, wrong branch) changes format/checksum and
    // flips red. Zero shuffles before the output sort.
    QuerySpec("mm12_container_sniff", (s, dir) => {
      val base = fanout(Tables.table(s, dir, "documents"))
      val mixed = Multimodal.syntheticContainers(base.filter(col("doc_id") % 4 < 2))
        .union(Multimodal.syntheticPngs(base.filter(col("doc_id") % 4 === 2)))
        .union(Multimodal.syntheticGifs(base.filter(col("doc_id") % 4 === 3)))
      Multimodal.sniffDecode(mixed).toDF().orderBy(col("media_id"))
    },
      // per-id-class formula replay: BMP (m%4=0, syntheticContainers' even
      // branch), WAV (m%4=1, odd branch, u16 checksum + signed mean), PNG
      // (m%4=2), GIF (m%4=3, frames flattened in order: value at position k
      // = formula(f = k // wh, p = k % wh))
      """WITH ids AS (SELECT doc_id AS m FROM documents),
        |bmp AS (
        |  SELECT m AS media_id, 'bmp' AS format,
        |    CAST((4+m%5)*(3+m%4)*3 AS BIGINT) AS n_units,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(0, (4+m%5)*(3+m%4)*3), j -> (m*31 + j) % 256)),
        |      (acc, v) -> (acc*31 + v) % 1000000007) AS checksum,
        |    CAST(list_sum(list_transform(range(0, (4+m%5)*(3+m%4)*3),
        |      j -> (m*31 + j) % 256)) AS DOUBLE) / ((4+m%5)*(3+m%4)*3) AS mean_val
        |  FROM ids WHERE m % 4 = 0),
        |wav AS (
        |  SELECT m AS media_id, 'wav' AS format,
        |    CAST(32 + m%64 AS BIGINT) AS n_units,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(0, 32 + m%64), i -> (m*131 + i*17) % 65536)),
        |      (acc, v) -> (acc*31 + v) % 1000000007) AS checksum,
        |    CAST(list_sum(list_transform(range(0, 32 + m%64), i ->
        |      CASE WHEN (m*131 + i*17) % 65536 >= 32768
        |        THEN (m*131 + i*17) % 65536 - 65536
        |        ELSE (m*131 + i*17) % 65536 END)) AS DOUBLE)
        |      / (32 + m%64) AS mean_val
        |  FROM ids WHERE m % 4 = 1),
        |png AS (
        |  SELECT m AS media_id, 'png' AS format,
        |    CAST((3+m%6)*(2+m%5)*3 AS BIGINT) AS n_units,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(0, (3+m%6)*(2+m%5)*3), j -> (m*37 + j*11) % 256)),
        |      (acc, v) -> (acc*31 + v) % 1000000007) AS checksum,
        |    CAST(list_sum(list_transform(range(0, (3+m%6)*(2+m%5)*3),
        |      j -> (m*37 + j*11) % 256)) AS DOUBLE)
        |      / ((3+m%6)*(2+m%5)*3) AS mean_val
        |  FROM ids WHERE m % 4 = 2),
        |gif AS (
        |  SELECT m AS media_id, 'gif' AS format,
        |    CAST((1+m%3)*(2+m%4)*(2+m%3) AS BIGINT) AS n_units,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(0, (1+m%3)*(2+m%4)*(2+m%3)), k ->
        |        (m*31 + (k // ((2+m%4)*(2+m%3)))*17
        |          + (k % ((2+m%4)*(2+m%3)))*7) % 256)),
        |      (acc, v) -> (acc*31 + v) % 1000000007) AS checksum,
        |    CAST(list_sum(list_transform(range(0, (1+m%3)*(2+m%4)*(2+m%3)), k ->
        |      (m*31 + (k // ((2+m%4)*(2+m%3)))*17
        |        + (k % ((2+m%4)*(2+m%3)))*7) % 256)) AS DOUBLE)
        |      / ((1+m%3)*(2+m%4)*(2+m%3)) AS mean_val
        |  FROM ids WHERE m % 4 = 3)
        |SELECT * FROM bmp UNION ALL SELECT * FROM wav
        |UNION ALL SELECT * FROM png UNION ALL SELECT * FROM gif
        |ORDER BY media_id""".stripMargin),

    // ViT-style PATCH EXTRACTION through the real BMP parser: each image
    // becomes a ⌈w/2⌉×⌈h/2⌉ grid of 2×2 patches, one exact-integer
    // feature row per patch, RAGGED edge tiles kept with their true
    // pixel count (dropping them is the classic preprocessing bug this
    // pins — the fixture's odd widths/heights guarantee partial tiles on
    // both axes). The oracle replays the channel formula per (x, y, c)
    // and re-derives the grid with integer division — a parser slip,
    // tile-offset error, or dropped edge patch flips the hash.
    QuerySpec("mm13_vit_patches", (s, dir) =>
      Multimodal.imagePatches(
          Multimodal.syntheticContainers(
            fanout(Tables.table(s, dir, "documents"))
              .filter(col("doc_id") % 2 === 0)), p = 2)
        .toDF()
        .orderBy(col("media_id"), col("py"), col("px")),
      // replay of mm13: BMP m has w = 4 + m%5, h = 3 + m%4, channel value
      // at (x, y, c) = (m*31 + (y*w + x)*3 + c) % 256; 2×2 grid by integer
      // division, partial edge tiles implied by the x < w / y < h bounds
      """WITH m AS (
        |  SELECT doc_id AS media_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |px AS (
        |  SELECT media_id, y // 2 AS py, x // 2 AS px, c,
        |    (media_id * 31 + (y * w + x) * 3 + c) % 256 AS v
        |  FROM m, range(0, 8) tx(x), range(0, 6) ty(y), range(0, 3) tc(c)
        |  WHERE x < w AND y < h)
        |SELECT media_id, CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px,
        |  CAST(COUNT(*) // 3 AS BIGINT) AS n_px,
        |  CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS b_sum,
        |  CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS g_sum,
        |  CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS r_sum
        |FROM px GROUP BY media_id, py, px
        |ORDER BY media_id, py, px""".stripMargin),
    // VAD-style AUDIO SEGMENTATION: every decoded 16-sample frame is
    // classified low/high energy against the half-scale mean-square
    // threshold (16·32768²/3 — a fixed constant, ~50% of frames on this
    // pseudo-uniform fixture, so runs of BOTH classes occur), then
    // gaps-and-islands merges consecutive same-class frames into
    // segments — ts17's islands applied to decoded media, the
    // silence-trimming pass an audio corpus runs before transcription.
    // Frames never leave the executor; islands shuffle only the
    // O(frames) feature rows on the media key.
    // silence trim (mm14's segmentation turned into the INGEST transform
    // audio pipelines actually apply): strip the all-|s|<8192 prefix and
    // suffix, keep the exact integer energy/peak of the middle; the
    // oracle replays the synthetic WAV formula and the trim convention
    // sample-for-sample
    QuerySpec("mm19_audio_trim", (s, dir) =>
      Multimodal.audioTrimSilence(
          Multimodal.syntheticContainers(
            fanout(Tables.table(s, dir, "documents"))
              .filter(col("doc_id") % 2 === 1)),
          threshold = 8192).toDF()
        .orderBy(col("media_id")),
      // replay of mm14: WAV m has n = 32 + m%64 samples of
      // (m*131 + i*17) mod 65536 as signed i16; frames of 16 (ragged tail
      // kept), energy threshold 16*(32768^2/3) = 5726623056, islands via
      // the rank-difference trick
      """WITH m AS (
        |  SELECT doc_id AS media_id, 32 + doc_id % 64 AS n
        |  FROM documents WHERE doc_id % 2 = 1),
        |sm AS (
        |  SELECT media_id, n, i,
        |    CASE WHEN (media_id*131 + i*17) % 65536 >= 32768
        |         THEN (media_id*131 + i*17) % 65536 - 65536
        |         ELSE (media_id*131 + i*17) % 65536 END AS s
        |  FROM m, range(0, 96) t(i) WHERE i < n),
        |loud AS (
        |  SELECT media_id, MAX(n) AS n,
        |    MIN(CASE WHEN abs(s) >= 8192 THEN i END) AS first_loud,
        |    MAX(CASE WHEN abs(s) >= 8192 THEN i END) AS last_loud
        |  FROM sm GROUP BY media_id),
        |tr AS (
        |  SELECT media_id, n, COALESCE(first_loud, n) AS lead,
        |    CASE WHEN first_loud IS NULL THEN 0
        |         ELSE n - 1 - last_loud END AS tail,
        |    last_loud
        |  FROM loud),
        |kept AS (
        |  SELECT t.media_id,
        |    CAST(SUM(s * s) AS BIGINT) AS kept_sum_sq,
        |    CAST(MAX(abs(s)) AS BIGINT) AS peak
        |  FROM tr t JOIN sm ON sm.media_id = t.media_id
        |    AND sm.i >= t.lead AND sm.i <= t.last_loud
        |  GROUP BY t.media_id)
        |SELECT t.media_id, CAST(t.n AS BIGINT) AS n_samples,
        |  CAST(t.lead AS BIGINT) AS lead_trim,
        |  CAST(t.tail AS BIGINT) AS tail_trim,
        |  CAST(t.n - t.lead - t.tail AS BIGINT) AS n_kept,
        |  COALESCE(k.kept_sum_sq, 0) AS kept_sum_sq,
        |  COALESCE(k.peak, 0) AS peak
        |FROM tr t LEFT JOIN kept k ON k.media_id = t.media_id
        |ORDER BY t.media_id""".stripMargin),

    // dynamic-range screen: bit-length (~6 dB) loudness buckets, exact
    // integers end to end — dB analytics with zero libm exposure; the
    // oracle replays the sample formula and DuckDB's bin() digit count
    // stands in for numberOfLeadingZeros
    QuerySpec("mm20_dynamic_range", (s, dir) =>
      Multimodal.audioDynamicRange(
          Multimodal.syntheticContainers(
            fanout(Tables.table(s, dir, "documents"))
              .filter(col("doc_id") % 2 === 1)),
          quietThreshold = 8192).toDF()
        .orderBy(col("media_id")),
      // replay of mm20: same synthetic samples as mm19; bucket =
      // length(bin(abs(s))) — DuckDB's minimal binary-digit count IS the
      // bit length for positive ints (abs(-32768) = 32768 → 16)
      """WITH m AS (
        |  SELECT doc_id AS media_id, 32 + doc_id % 64 AS n
        |  FROM documents WHERE doc_id % 2 = 1),
        |sm AS (
        |  SELECT media_id,
        |    CASE WHEN (media_id*131 + i*17) % 65536 >= 32768
        |         THEN (media_id*131 + i*17) % 65536 - 65536
        |         ELSE (media_id*131 + i*17) % 65536 END AS s
        |  FROM m, range(0, 96) t(i) WHERE i < n),
        |b AS (
        |  SELECT media_id, abs(s) AS a,
        |    CASE WHEN s = 0 THEN 0 ELSE length(bin(abs(s))) END AS bucket
        |  FROM sm)
        |SELECT media_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(COALESCE(MAX(CASE WHEN a > 0 THEN bucket END), 0) AS BIGINT)
        |    AS peak_bucket,
        |  CAST(COALESCE(MIN(CASE WHEN a > 0 THEN bucket END), 0) AS BIGINT)
        |    AS floor_bucket,
        |  CAST(COALESCE(MAX(CASE WHEN a > 0 THEN bucket END)
        |    - MIN(CASE WHEN a > 0 THEN bucket END), 0) AS BIGINT)
        |    AS range_buckets,
        |  CAST(SUM(CASE WHEN a < 8192 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quiet
        |FROM b GROUP BY media_id ORDER BY media_id""".stripMargin),

    QuerySpec("mm14_audio_segments", (s, dir) => {
      val fr = Multimodal.audioFrames(
          Multimodal.syntheticContainers(
            fanout(Tables.table(s, dir, "documents"))
              .filter(col("doc_id") % 2 === 1)),
          frameLen = 16, everyK = 1).toDF()
      val threshold = 16L * (32768L * 32768L / 3L) // half-scale mean-square
      val wc = Window.partitionBy(col("media_id"), col("quiet"))
        .orderBy(col("frame_idx"))
      fr.withColumn("quiet", col("sum_sq") < threshold)
        .withColumn("grp",
          col("frame_idx") - (row_number().over(wc).cast("long") - 1))
        .groupBy(col("media_id"), col("quiet"), col("grp"))
        .agg(min(col("frame_idx")).as("start_frame"),
          max(col("frame_idx")).as("end_frame"),
          count(lit(1)).as("n_frames"),
          sum(col("sum_sq")).as("energy"))
        .select(col("media_id"), col("quiet"), col("start_frame"),
          col("end_frame"), col("n_frames"), col("energy"))
        .orderBy(col("media_id"), col("start_frame"))
    },
      """WITH m AS (
        |  SELECT doc_id AS media_id, 32 + doc_id % 64 AS n
        |  FROM documents WHERE doc_id % 2 = 1),
        |sm AS (
        |  SELECT media_id, i // 16 AS frame_idx,
        |    CASE WHEN (media_id*131 + i*17) % 65536 >= 32768
        |         THEN (media_id*131 + i*17) % 65536 - 65536
        |         ELSE (media_id*131 + i*17) % 65536 END AS s
        |  FROM m, range(0, 96) t(i) WHERE i < n),
        |fr AS (
        |  SELECT media_id, frame_idx, CAST(SUM(s*s) AS BIGINT) AS sum_sq
        |  FROM sm GROUP BY media_id, frame_idx),
        |c AS (
        |  SELECT media_id, frame_idx, sum_sq,
        |    sum_sq < 5726623056 AS quiet,
        |    frame_idx - (ROW_NUMBER() OVER (
        |      PARTITION BY media_id, (sum_sq < 5726623056)
        |      ORDER BY frame_idx) - 1) AS grp
        |  FROM fr)
        |SELECT media_id, quiet,
        |  MIN(frame_idx) AS start_frame, MAX(frame_idx) AS end_frame,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(SUM(sum_sq) AS BIGINT) AS energy
        |FROM c GROUP BY media_id, quiet, grp
        |ORDER BY media_id, start_frame""".stripMargin),

    // Per-channel intensity HISTOGRAM through the real BMP parser — the
    // exposure/contrast/channel-balance screen a vision corpus runs at
    // ingest. 4 equal bins over [0,256); channel indexes the B,G,R pixel
    // layout (0 = blue). The oracle re-derives every pixel byte from the
    // closed-form channel formula and buckets with integer division, so
    // a parser slip, a wrong bin edge, or a channel-order mixup flips
    // counts. Decode is map-side; only 12 tiny cells per image shuffle.
    QuerySpec("mm15_channel_histogram", (s, dir) =>
      Multimodal.channelHistograms(
          Multimodal.syntheticContainers(
            fanout(Tables.table(s, dir, "documents"))
              .filter(col("doc_id") % 2 === 0)), bins = 4)
        .toDF()
        .orderBy(col("media_id"), col("channel"), col("bin")),
      // replay of mm15: BMP m has w = 4+m%5, h = 3+m%4, channel byte
      // (m*31 + (y*w + x)*3 + c) % 256 (B,G,R layout) — bucket with the
      // same integer division, count per (image, channel, bin); zero bins
      // never group, matching the Spark side's nonzero-only emission
      """WITH m AS (
        |  SELECT doc_id AS media_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |px AS (
        |  SELECT media_id, c,
        |    ((media_id * 31 + (y * w + x) * 3 + c) % 256) // 64 AS bin
        |  FROM m, range(0, 8) tx(x), range(0, 6) ty(y), range(0, 3) tc(c)
        |  WHERE x < w AND y < h)
        |SELECT media_id, CAST(c AS BIGINT) AS channel,
        |  CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_px
        |FROM px GROUP BY media_id, c, bin
        |ORDER BY media_id, channel, bin""".stripMargin),

    // CORRUPT-CONTAINER QUARANTINE: every 17th PNG payload gets one byte
    // inside its first post-IHDR chunk flipped (offset 41 = first data
    // byte, inside the chunk's CRC-32 coverage), and the integrity pass
    // must catch EVERY corruption via the codec's own CRC verification
    // while decoding the rest bit-exactly — the oracle predicts the
    // quarantine set arithmetically and replays the survivors' checksums
    // from the closed-form content formula, so a missed corruption OR a
    // false quarantine flips the hash. One bad file must never kill the
    // batch (per-row guard, not a job failure).
    QuerySpec("mm16_integrity_quarantine", (s, dir) => {
      val media = Multimodal.syntheticPngs(
        fanout(Tables.table(s, dir, "documents")))
      import media.sparkSession.implicits._
      val corrupted = media.map { c =>
        if (c.media_id % 17 == 0) {
          val b = c.payload.clone()
          b(41) = (b(41) ^ 0xFF).toByte
          Multimodal.Container(c.media_id, b)
        } else c
      }
      Multimodal.pngIntegrity(corrupted).toDF()
        .orderBy(col("media_id"))
    },
      // quarantine set = the arithmetic corruption rule; survivors replay
      // mm07's closed-form decoded checksum (PNG m: w = 3+m%6, h = 2+m%5,
      // channel j = (m*37 + j*11) % 256)
      """WITH m AS (
        |  SELECT doc_id AS media_id, 3 + doc_id % 6 AS w, 2 + doc_id % 5 AS h
        |  FROM documents)
        |SELECT media_id,
        |  CASE WHEN media_id % 17 = 0 THEN 'quarantined' ELSE 'ok' END
        |    AS status,
        |  CASE WHEN media_id % 17 = 0 THEN 0
        |       ELSE list_reduce(list_prepend(0::BIGINT,
        |         list_transform(range(0, w*h*3),
        |           j -> (media_id*37 + j*11) % 256)),
        |         (acc, v) -> (acc*31 + v) % 1000000007) END AS checksum
        |FROM m ORDER BY media_id""".stripMargin),

    // HISTOGRAM EQUALIZATION through the real BMP parser — the contrast
    // normalization stage (decode → 256-level histogram → integer CDF
    // remap → features). The summary is level-set arithmetic (deliberately
    // pixel-order-free; mm06/mm13/mm15 already pin layout), so the oracle
    // replays the channel-byte formula as a VALUE multiset and runs the
    // identical CDF transfer function in SQL — a wrong cdf_min, an
    // off-by-one in the divisor, or a biased division flips the sums.
    QuerySpec("mm21_hist_equalization", (s, dir) =>
      Multimodal.histogramEqualize(
          Multimodal.syntheticContainers(
            fanout(Tables.table(s, dir, "documents"))
              .filter(col("doc_id") % 2 === 0)))
        .toDF()
        .orderBy(col("media_id")),
      // the channel-byte formula as a value multiset (order-free by
      // design), then the IDENTICAL integer CDF transfer function:
      // new(v) = (cdf(v) − cdf_min)·255 // (n − cdf_min), single-level
      // images pinned to 0 — all-integer, so the compare is exact
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    (4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS npx
        |  FROM documents WHERE doc_id % 2 = 0),
        |v AS (
        |  -- fixed-range + filter (the mm15 convention — no correlated
        |  -- table function); 144 = max npx = 8·6·3
        |  SELECT media_id, npx, (media_id * 31 + j) % 256 AS v
        |  FROM m, range(0, 144) tj(j) WHERE j < npx),
        |hist AS (
        |  SELECT media_id, npx, v, COUNT(*) AS hc
        |  FROM v GROUP BY 1, 2, 3),
        |c AS (
        |  SELECT media_id, npx, v, hc,
        |    CAST(SUM(hc) OVER (PARTITION BY media_id ORDER BY v)
        |      AS BIGINT) AS cdf
        |  FROM hist),
        |mn AS (SELECT media_id, MIN(cdf) AS cdfmin FROM c
        |       GROUP BY media_id),
        |eq AS (
        |  SELECT c.media_id, c.npx, c.hc,
        |    CASE WHEN c.npx = mn.cdfmin THEN 0
        |      ELSE ((c.cdf - mn.cdfmin) * 255) // (c.npx - mn.cdfmin)
        |    END AS nv
        |  FROM c JOIN mn ON c.media_id = mn.media_id)
        |SELECT media_id, CAST(MAX(npx) AS BIGINT) AS n_px,
        |  COUNT(*) AS n_levels,
        |  CAST(SUM(hc * nv) AS BIGINT) AS eq_sum,
        |  CAST(MIN(nv) AS BIGINT) AS eq_min,
        |  CAST(MAX(nv) AS BIGINT) AS eq_max
        |FROM eq GROUP BY media_id ORDER BY media_id""".stripMargin),

    // DOMINANT-COLOR EXTRACTION through the real BMP parser — each pixel
    // quantized to its RGB-cube corner (1 bit/channel), top-2 cells per
    // image by (count DESC, code ASC). The oracle re-derives every
    // pixel's (b,g,r) from the channel formula (B,G,R layout — a channel
    // mixup changes codes) and replays the rank rule; decode is
    // map-side, two bounded rows out per image.
    QuerySpec("mm22_dominant_colors", (s, dir) =>
      Multimodal.dominantColors(
          Multimodal.syntheticContainers(
            fanout(Tables.table(s, dir, "documents"))
              .filter(col("doc_id") % 2 === 0)))
        .toDF()
        .orderBy(col("media_id"), col("rank")),
      // per-pixel (b,g,r) from the B,G,R channel formula, the identical
      // cube-corner code, and the same (count DESC, code ASC) rank rule
      """WITH m AS (
        |  SELECT doc_id AS media_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |px AS (
        |  SELECT media_id, w * h AS n_px,
        |    CASE WHEN (media_id * 31 + p * 3) % 256 >= 128
        |      THEN 4 ELSE 0 END
        |    + CASE WHEN (media_id * 31 + p * 3 + 1) % 256 >= 128
        |      THEN 2 ELSE 0 END
        |    + CASE WHEN (media_id * 31 + p * 3 + 2) % 256 >= 128
        |      THEN 1 ELSE 0 END AS code
        |  FROM m, range(0, 48) tp(p) WHERE p < w * h),
        |cnt AS (
        |  SELECT media_id, n_px, code, COUNT(*) AS n_px_code
        |  FROM px GROUP BY 1, 2, 3),
        |r AS (
        |  SELECT media_id, code, n_px_code, n_px,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY media_id
        |      ORDER BY n_px_code DESC, code) AS BIGINT) AS rank
        |  FROM cnt)
        |SELECT media_id, rank, CAST(code AS BIGINT) AS code,
        |  n_px_code, n_px
        |FROM r WHERE rank <= 2 ORDER BY media_id, rank""".stripMargin),

    // INTEGRAL IMAGE (summed-area table) through the real BMP parser —
    // the O(1) box-query primitive, certified in-engine (SAT corner
    // lookups vs direct accumulation in the same pass) and replayed by
    // the oracle as direct green-channel quadrant sums from the pixel
    // formula, with sat_ok pinned TRUE.
    QuerySpec("mm23_integral_quads", (s, dir) =>
      Multimodal.integralQuadrants(
          Multimodal.syntheticContainers(
            fanout(Tables.table(s, dir, "documents"))
              .filter(col("doc_id") % 2 === 0)))
        .toDF()
        .orderBy(col("media_id")),
      // direct green-channel quadrant sums from the pixel formula
      // (channel index 3·(y·w+x)+1); half-open [x0,x1)×[y0,y1) boxes with
      // integer-floor midpoints — sat_ok pinned TRUE
      """WITH m AS (
        |  SELECT doc_id AS media_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |px AS (
        |  SELECT media_id, w, h, x, y,
        |    (media_id * 31 + (y * w + x) * 3 + 1) % 256 AS gv
        |  FROM m, range(0, 8) tx(x), range(0, 6) ty(y)
        |  WHERE x < w AND y < h)
        |SELECT media_id,
        |  CAST(MIN(w) AS BIGINT) AS width, CAST(MIN(h) AS BIGINT) AS height,
        |  CAST(SUM(CASE WHEN x < w // 2 AND y < h // 2 THEN gv ELSE 0 END)
        |    AS BIGINT) AS q_tl,
        |  CAST(SUM(CASE WHEN x >= w // 2 AND y < h // 2 THEN gv ELSE 0 END)
        |    AS BIGINT) AS q_tr,
        |  CAST(SUM(CASE WHEN x < w // 2 AND y >= h // 2 THEN gv ELSE 0 END)
        |    AS BIGINT) AS q_bl,
        |  CAST(SUM(CASE WHEN x >= w // 2 AND y >= h // 2 THEN gv ELSE 0
        |    END) AS BIGINT) AS q_br,
        |  CAST(SUM(gv) AS BIGINT) AS total,
        |  TRUE AS sat_ok
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin),

    // CLIPPING DETECTOR through the real WAV parser — count / longest
    // run / first index of near-full-scale samples (|s| ≥ 32760). The
    // oracle re-derives each sample's signed value from the content
    // formula and replays the run arithmetic with gaps-and-islands —
    // a sign-reconstruction slip or an off-by-one run boundary flips
    // the counts. Map-side decode, one bounded row per clip.
    QuerySpec("mm24_clipping", (s, dir) =>
      Multimodal.audioClipping(
          Multimodal.syntheticContainers(
            fanout(Tables.table(s, dir, "documents"))
              .filter(col("doc_id") % 2 === 1)),
          threshold = 32760).toDF()
        .orderBy(col("media_id")),
      // sample formula → clipped iff raw v ∈ [32760, 32776] (|signed| ≥
      // 32760 on both sides of the i16 wrap); runs via gaps-and-islands;
      // clip-free media pinned (0, 0, −1)
      """WITH m AS (
        |  SELECT doc_id AS media_id, 32 + doc_id % 64 AS n
        |  FROM documents WHERE doc_id % 2 = 1),
        |smp AS (
        |  SELECT media_id, n, i, (media_id * 131 + i * 17) % 65536 AS v
        |  FROM m, range(0, 96) t(i) WHERE i < n),
        |clip AS (SELECT media_id, i FROM smp
        |         WHERE v BETWEEN 32760 AND 32776),
        |runs AS (
        |  SELECT media_id, i,
        |    i - ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY i)
        |      AS grp
        |  FROM clip),
        |per_run AS (
        |  SELECT media_id, grp, COUNT(*) AS rl, MIN(i) AS fi
        |  FROM runs GROUP BY 1, 2),
        |agg AS (
        |  SELECT media_id, CAST(SUM(rl) AS BIGINT) AS n_clipped,
        |    CAST(MAX(rl) AS BIGINT) AS max_clip_run,
        |    MIN(fi) AS first_clip
        |  FROM per_run GROUP BY media_id)
        |SELECT m.media_id, CAST(m.n AS BIGINT) AS n_samples,
        |  COALESCE(a.n_clipped, 0) AS n_clipped,
        |  COALESCE(a.max_clip_run, 0) AS max_clip_run,
        |  COALESCE(a.first_clip, -1) AS first_clip
        |FROM m LEFT JOIN agg a ON m.media_id = a.media_id
        |ORDER BY m.media_id""".stripMargin)
  )
}
