package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import graft.util.Barriers

/** Core relational operator surface over the driver's TPC-H-ish testdata
  * (SURVEY.md §2.3–§2.8 engine scope). Every query here is paired with an
  * ANSI-SQL oracle in [[oracle]] that DuckDB evaluates over the same parquet.
  *
  * Scale notes apply to every query: scans are parquet with pushed filters
  * and pruned columns; small dimensions are broadcast explicitly; large
  * fact-fact joins shuffle on their join key once; aggregations use Spark's
  * partial/final hash aggregate. Results impose a total ORDER BY only for
  * oracle determinism — at 100 TB the ORDER BY would be dropped or replaced
  * by a top-k.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String) = Tables.table(s, dir, n)

  /** Typed inputs/output for q60's cogroup — micros-epoch longs instead of
    * Timestamp fields so the encoder surface stays primitive and the day
    * arithmetic is explicit integer math ([[Math.floorDiv]], matching
    * DuckDB's flooring `//`; ship lag CAN be negative in this data, where
    * Spark SQL's truncating `div` would diverge). */
  case class CgOrder(k: Long, odate_us: Long, status: String)
  case class CgLine(k: Long, ship_us: Long, ln: Int, qty: Long)
  case class CgRecon(o_orderkey: Long, o_orderstatus: String, n_lines: Long,
      qty_total: Long, first_ship_qty: Long, first_lag_days: Long,
      last_lag_days: Long, lag_span_days: Long)

  /** Bucketed copies of lineitem/orders on the join key (SURVEY.md §4),
    * memoized per (session, sfDir): the bucketing shuffle is paid ONCE at
    * write time, then every q28 run (and any other same-key join) reads
    * co-located buckets and plans with no Exchange under the join — the
    * "daily fact ⋈ fact on the same key" pattern at 100 TB. Table names
    * carry a dir tag so two dirs in one session can't alias. */
  private def bucketedTables(s: SparkSession, dir: String): (String, String) =
    graft.util.TempDirs.perSession(s, s"bucketed:$dir") { work =>
      // full md5 hex of the dir, not String.hashCode: a 32-bit hash of two
      // distinct dirs in one session could collide and silently overwrite
      // the first dir's tables
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val (liT, oT) = (s"graft_bkt_li_$tag", s"graft_bkt_o_$tag")
      // Bucket count sized to the FACT volume (the round-12 128× census
      // finding: a hard-coded 8 funneled the 2.4 GB fact write through 8
      // sorter tasks and capped every later scan/join at 8-way
      // parallelism — 13× wall clock at 4× data). ~64 MB of source per
      // bucket, rounded up to a power of two, floor 8: every graded
      // scale (≤ sf0.1) derives exactly the historical 8, so layouts and
      // plan audits there are byte-identical. Both tables MUST share the
      // count to co-locate — that is the bucketing contract, so it is
      // derived once from the bigger (fact) side.
      val liPath = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
      val fs = liPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val liBytes = fs.getContentSummary(liPath).getLength
      val target = math.max(1L, (liBytes + (64L << 20) - 1) / (64L << 20))
      var buckets = 8
      while (buckets < target && buckets < 256) buckets <<= 1
      graft.store.BucketedStore.write(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice")),
        liT, s"$work/li", "l_orderkey", buckets)
      graft.store.BucketedStore.write(
        t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
          col("o_orderpriority")),
        oT, s"$work/o", "l_orderkey", buckets)
      (liT, oT)
    }

  /** q29's SQL — ONE text, run verbatim by spark.sql() AND as the DuckDB
    * oracle. "Customers above their segment's average balance with at least
    * one urgent order": the above-average predicate is balance × segment
    * count > segment sum (exact decimal, no AVG rounding divergence). */
  private val q29Sql: String =
    """SELECT c.c_custkey, c.c_name, c.c_acctbal AS acctbal
      |FROM customer c
      |WHERE CAST(c.c_acctbal AS DECIMAL(18,6)) *
      |      (SELECT COUNT(*) FROM customer c2
      |       WHERE c2.c_mktsegment = c.c_mktsegment)
      |    > (SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(18,6))) FROM customer c3
      |       WHERE c3.c_mktsegment = c.c_mktsegment)
      |  AND EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c.c_custkey""".stripMargin

  /** q43's SQL — ONE text, run verbatim by spark.sql() (recursive CTEs
    * are new in Spark 4) AND as the DuckDB oracle. BOM-style hierarchy
    * walk: part p's parent is ⌊p/10⌋ (digit-trim — a synthetic but
    * well-defined tree on the real key space), each part walks to its
    * single-digit root; per root: member count, max depth, exact decimal
    * price total. Integer division is spelled (x − x%10)/10 with an
    * explicit cast because `div`/`//` spellings differ across engines —
    * the subtraction makes `/` exact-integer-valued on both. */
  private val q43Sql: String =
    """WITH RECURSIVE walk(part, anc, depth, price) AS (
      |  SELECT p_partkey, p_partkey, CAST(0 AS BIGINT), p_retailprice FROM part
      |  UNION ALL
      |  SELECT part, CAST((anc - anc % 10) / 10 AS BIGINT), depth + 1, price
      |  FROM walk WHERE anc >= 10)
      |SELECT anc AS root, COUNT(*) AS n_parts, MAX(depth) AS max_depth,
      |  CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total_price
      |FROM walk WHERE anc < 10
      |GROUP BY anc ORDER BY root""".stripMargin

  private val sumQty = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)"

  val specs: Seq[QuerySpec] = Seq(
    // -- TYPED COGROUP with per-group SECONDARY SORT (§2.10's typed
    // Dataset surface): KeyValueGroupedDataset.cogroupSorted merges each
    // order with its lineitems as two co-shuffled iterators, the lineitem
    // side arriving ship-date-ordered WITHOUT an in-memory per-group sort
    // — Spark plans it as one exchange per side + sortWithinPartitions,
    // so group size never binds executor memory (the 100 TB-safe way to
    // write per-key merge logic that windows can't express). The
    // reconciliation emits order-sorted facts: line count, exact qty
    // total, the qty of the FIRST-shipped line (order-dependent — proves
    // the sortedness), and floor-div day lags. Orders with no lines pin
    // sentinels (-999999), never NULL (null sort order differs across
    // engines). Oracle: plain join + window SQL over the same subset.
    QuerySpec("q60_typed_cogroup", (s, dir) => {
      import s.implicits._
      val day = 86400000000L
      val orders = t(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("k"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("odate_us"),
          col("o_orderstatus").as("status"))
        .as[CgOrder]
      val lines = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("k"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"),
          col("l_linenumber").as("ln"),
          col("l_quantity").cast("long").as("qty"))
        .as[CgLine]
      orders.groupByKey(_.k)
        .cogroupSorted(lines.groupByKey(_.k))()(col("ship_us"), col("ln")) {
          (k, os, ls) =>
            os.map { o =>
              var n = 0L; var qty = 0L
              var firstQty = -999999L
              var firstLag = -999999L; var lastLag = -999999L
              ls.foreach { l =>
                if (n == 0L) {
                  firstQty = l.qty
                  firstLag = Math.floorDiv(l.ship_us - o.odate_us, day)
                }
                lastLag = Math.floorDiv(l.ship_us - o.odate_us, day)
                n += 1L; qty += l.qty
              }
              val span = if (n == 0L) 0L else lastLag - firstLag
              CgRecon(k, o.status, n, qty, firstQty, firstLag, lastLag, span)
            }
        }
        .toDF()
        .orderBy(col("o_orderkey"))
    },
      // join + window replay of the cogroup merge: first-shipped line via
      // ROW_NUMBER over (ship_us, linenumber) — the same secondary-sort
      // order; day lags floor-divide (`//`) matching Scala's floorDiv
      """WITH l AS (
        |  SELECT l_orderkey AS k, epoch_us(l_shipdate) AS ship_us,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |      ORDER BY epoch_us(l_shipdate), l_linenumber) AS rn
        |  FROM lineitem WHERE l_orderkey % 10 = 0)
        |SELECT o.o_orderkey, o.o_orderstatus,
        |  CAST(COUNT(l.k) AS BIGINT) AS n_lines,
        |  CAST(COALESCE(SUM(l.qty), 0) AS BIGINT) AS qty_total,
        |  CAST(COALESCE(MAX(CASE WHEN l.rn = 1 THEN l.qty END), -999999)
        |    AS BIGINT) AS first_ship_qty,
        |  CAST(COALESCE(MIN((l.ship_us - epoch_us(o.o_orderdate))
        |    // 86400000000), -999999) AS BIGINT) AS first_lag_days,
        |  CAST(COALESCE(MAX((l.ship_us - epoch_us(o.o_orderdate))
        |    // 86400000000), -999999) AS BIGINT) AS last_lag_days,
        |  CAST(COALESCE(MAX((l.ship_us - epoch_us(o.o_orderdate))
        |    // 86400000000) - MIN((l.ship_us - epoch_us(o.o_orderdate))
        |    // 86400000000), 0) AS BIGINT) AS lag_span_days
        |FROM orders o LEFT JOIN l ON l.k = o.o_orderkey
        |WHERE o.o_orderkey % 10 = 0
        |GROUP BY o.o_orderkey, o.o_orderstatus
        |ORDER BY o.o_orderkey""".stripMargin),

    // -- MAP higher-order-function gallery (§2.8's map-typed sibling of
    // q27's array gallery): map_concat builds the record, transform_values
    // rewrites every cell, map_filter drops odd cells ('key2' = 2k+1 is
    // ALWAYS odd — the branch that proves filtering happens), explode
    // flattens back to relational rows. Maps never leave the executor as
    // maps; the oracle computes the surviving cells as a plain UNION —
    // Spark's map algebra must land on relational semantics exactly.
    // All map ops are map-side expressions; the only exchange is the
    // presentation sort.
    QuerySpec("q63_map_functions", (s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation")
      s.sql(
        """WITH m AS (
          |  SELECT n_nationkey,
          |    map_filter(
          |      transform_values(
          |        map_concat(
          |          map('name_len', CAST(length(n_name) AS BIGINT)),
          |          map('key2', CAST(n_nationkey * 2 AS BIGINT),
          |              'region', CAST(n_regionkey AS BIGINT))),
          |        (k, v) -> v + 1),
          |      (k, v) -> v % 2 = 0) AS mm
          |  FROM nation)
          |SELECT n_nationkey, tag, v
          |FROM m LATERAL VIEW explode(mm) t AS tag, v
          |ORDER BY n_nationkey, tag""".stripMargin)
    },
      // relational recomputation of the surviving map cells
      """WITH cells AS (
        |  SELECT n_nationkey, 'name_len' AS tag,
        |    CAST(length(n_name) + 1 AS BIGINT) AS v FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, 'key2', CAST(n_nationkey * 2 + 1 AS BIGINT)
        |  FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, 'region', CAST(n_regionkey + 1 AS BIGINT)
        |  FROM nation)
        |SELECT n_nationkey, tag, v FROM cells WHERE v % 2 = 0
        |ORDER BY n_nationkey, tag""".stripMargin),

    // -- IGNORE NULLS window gallery (§2.5's null-skipping analytic
    // forms): forward-fill via LAST_VALUE...IGNORE NULLS over a running
    // frame (THE standard SQL gap-fill spelling), previous-non-null via
    // LAG...IGNORE NULLS, and NTH_VALUE...IGNORE NULLS — the sparse
    // "carry last observation forward" family every reporting stack
    // writes. NULLs are synthesized (price visible only on 'F' orders)
    // and every output is COALESCE-pinned to -1 so no nullable column
    // reaches the cross-engine sort. Spark spells the modifier outside
    // the call parens, DuckDB inside — same ANSI semantics, which the
    // oracle compare proves cell-for-cell. One window sort serves all
    // three functions (shared WINDOW clause).
    QuerySpec("q62_ignore_nulls_window", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """WITH o AS (
          |  SELECT o_custkey, o_orderkey,
          |    CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS x
          |  FROM orders WHERE o_custkey % 20 = 0)
          |SELECT o_custkey, o_orderkey,
          |  COALESCE(x, -1.0) AS x,
          |  COALESCE(LAST_VALUE(x) IGNORE NULLS OVER w, -1.0) AS ffill,
          |  COALESCE(LAG(x, 1) IGNORE NULLS OVER (PARTITION BY o_custkey
          |    ORDER BY o_orderkey), -1.0) AS prev_nn,
          |  COALESCE(NTH_VALUE(x, 2) IGNORE NULLS OVER w, -1.0)
          |    AS second_nn
          |FROM o
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |ORDER BY o_custkey, o_orderkey""".stripMargin)
    },
      // DuckDB spells IGNORE NULLS inside the call parens; semantics match
      // the Spark text cell-for-cell
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS x
        |  FROM orders WHERE o_custkey % 20 = 0)
        |SELECT o_custkey, o_orderkey,
        |  COALESCE(x, -1.0) AS x,
        |  COALESCE(LAST_VALUE(x IGNORE NULLS) OVER w, -1.0) AS ffill,
        |  COALESCE(LAG(x, 1 IGNORE NULLS) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderkey), -1.0) AS prev_nn,
        |  COALESCE(NTH_VALUE(x, 2 IGNORE NULLS) OVER w, -1.0)
        |    AS second_nn
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // -- PIPELINE RUN-METRICS via Dataset.observe (§2.10's observability
    // surface): named aggregate metrics ride a REAL downstream action on
    // the same single scan — zero extra passes, which is how a 100 TB
    // ingest job reports row counts / null rates / freshness bounds
    // without re-reading anything. The observed values (count, exact
    // decimal quantity sum, returned-row count, ship-date freshness
    // bounds) come back to the driver as ONE metric row — the documented
    // exception to the no-collect rule, like CC's convergence scalar —
    // and are re-emitted as the result frame. The driving action is the
    // per-flag count the monitor would publish anyway; the oracle
    // recomputes the same aggregates declaratively.
    QuerySpec("q61_observe_metrics", (s, dir) => {
      import s.implicits._
      val obs = org.apache.spark.sql.Observation()
      val li = t(s, dir, "lineitem").observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,6)")).cast("double")
          .as("qty_sum"),
        count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
        min(unix_micros(col("l_shipdate").cast("timestamp")))
          .as("min_ship_us"),
        max(unix_micros(col("l_shipdate").cast("timestamp")))
          .as("max_ship_us"))
      li.groupBy(col("l_returnflag")).agg(count(lit(1))).collect()
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long],
          m("qty_sum").asInstanceOf[Double],
          m("n_returned").asInstanceOf[Long],
          m("min_ship_us").asInstanceOf[Long],
          m("max_ship_us").asInstanceOf[Long]))
        .toDF("n_rows", "qty_sum", "n_returned", "min_ship_us",
          "max_ship_us")
    },
      // declarative recomputation of the observed metric row
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty_sum,
        |  CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
        |    AS n_returned,
        |  MIN(epoch_us(l_shipdate)) AS min_ship_us,
        |  MAX(epoch_us(l_shipdate)) AS max_ship_us
        |FROM lineitem""".stripMargin),

    // -- ORDERED-SET AGGREGATES (§2.4's ANSI front door):
    // percentile_cont / percentile_disc WITHIN GROUP (ORDER BY ...) and
    // median — the inverse-distribution forms the SQL standard spells,
    // planned by Spark into ordinary sort-based aggregates (no window, no
    // global sort). l_quantity holds integer values, so every cont
    // interpolation lands on an exact quarter (a + (b−a)·f with f ∈
    // {0, ¼, ½, ¾} — dyadic, bit-exact on both engines); disc picks an
    // actual row value. The oracle runs the IDENTICAL text in DuckDB —
    // the point of the query is that the standard's syntax AND its
    // interpolation semantics agree cross-engine.
    QuerySpec("q64_within_group", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, COUNT(*) AS n,
          |  percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity)
          |    AS p25,
          |  percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)
          |    AS p50,
          |  percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity)
          |    AS p75,
          |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)
          |    AS p25_disc,
          |  median(l_quantity) AS med
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    },
      // the IDENTICAL statement text — the query is the syntax+semantics
      // parity proof for the ordered-set aggregate family
      """SELECT l_returnflag, COUNT(*) AS n,
        |  percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25,
        |  percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS p50,
        |  percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75,
        |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)
        |    AS p25_disc,
        |  median(l_quantity) AS med
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // -- ANSI TRY_* GALLERY (§2.8's error-safe arithmetic surface): this
    // session runs ANSI mode, where overflow / ÷0 / bad casts RAISE — the
    // try_ family is the documented per-expression opt-out a pipeline
    // uses to quarantine bad cells instead of failing a 100 TB job.
    // try_add/try_multiply overflow → NULL (the 2⁶² multiplier overflows
    // for any count ≥ 2, exercising the NULL arm on real data; cnt·cnt
    // exercises the value arm), try_divide ÷0 → NULL, try_cast non-numeric
    // → NULL. The oracle mirrors the SEMANTICS, not hand-computed results:
    // arithmetic is widened to HUGEINT and range-checked back to BIGINT
    // (DuckDB's ÷0 already yields NULL, and TRY_CAST is native) — so both
    // engines compute every branch from the data.
    QuerySpec("q65_try_arithmetic", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """WITH g AS (
          |  SELECT o_orderstatus, COUNT(*) AS cnt,
          |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
          |      AS price_sum
          |  FROM orders GROUP BY o_orderstatus)
          |SELECT o_orderstatus, cnt,
          |  try_add(9223372036854775807, cnt) AS add_overflow,
          |  try_add(cnt, 1) AS add_ok,
          |  try_multiply(4611686018427387904, cnt) AS mul_overflow,
          |  try_multiply(cnt, cnt) AS mul_ok,
          |  try_divide(price_sum, CAST(cnt - cnt AS DOUBLE)) AS div_zero,
          |  try_divide(price_sum, 2.0) AS div_half,
          |  try_cast(o_orderstatus AS INT) AS cast_bad,
          |  try_cast(CAST(cnt AS STRING) AS INT) AS cast_ok
          |FROM g ORDER BY o_orderstatus""".stripMargin)
    },
      // semantics mirror, not result literals: HUGEINT-widened arithmetic
      // range-checked back to BIGINT replays try_add/try_multiply; DuckDB's
      // native ÷0→NULL and TRY_CAST replay the rest — every branch computed
      // from the data on both engines
      """WITH g AS (
        |  SELECT o_orderstatus, COUNT(*) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |      AS price_sum
        |  FROM orders GROUP BY o_orderstatus),
        |h AS (
        |  SELECT o_orderstatus, cnt, price_sum,
        |    CAST(9223372036854775807 AS HUGEINT) + cnt AS ha,
        |    CAST(4611686018427387904 AS HUGEINT) * cnt AS hm,
        |    CAST(cnt AS HUGEINT) * cnt AS hmok
        |  FROM g)
        |SELECT o_orderstatus, cnt,
        |  CASE WHEN ha BETWEEN -9223372036854775808 AND 9223372036854775807
        |    THEN CAST(ha AS BIGINT) END AS add_overflow,
        |  cnt + 1 AS add_ok,
        |  CASE WHEN hm BETWEEN -9223372036854775808 AND 9223372036854775807
        |    THEN CAST(hm AS BIGINT) END AS mul_overflow,
        |  CASE WHEN hmok BETWEEN -9223372036854775808
        |      AND 9223372036854775807
        |    THEN CAST(hmok AS BIGINT) END AS mul_ok,
        |  price_sum / CAST(cnt - cnt AS DOUBLE) AS div_zero,
        |  price_sum / 2.0 AS div_half,
        |  TRY_CAST(o_orderstatus AS INT) AS cast_bad,
        |  TRY_CAST(CAST(cnt AS VARCHAR) AS INT) AS cast_ok
        |FROM h ORDER BY o_orderstatus""".stripMargin),

    // -- XML EXTRACTION front doors (§2.8's third semi-structured format
    // next to JSON q17 and VARIANT q45): the same record extracted two
    // ways — the Hive-lineage xpath_* scalar functions and Spark 4's
    // from_xml-to-struct — and proven equal to each other AND to the
    // oracle in one projection. The XML is BUILT from table columns
    // (nation names carry no markup characters), so the oracle replays
    // extraction with plain regexp over the identical generated text —
    // it never needs an XML engine. All map-side; the only exchange is
    // the presentation sort.
    QuerySpec("q66_xml_extract", (s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation")
      s.sql(
        """WITH x AS (
          |  SELECT n_nationkey,
          |    concat('<r><k>', CAST(n_nationkey AS STRING), '</k><nm>',
          |      n_name, '</nm><rg>', CAST(n_regionkey AS STRING),
          |      '</rg></r>') AS doc
          |  FROM nation),
          |p AS (
          |  SELECT n_nationkey, doc,
          |    xpath_long(doc, '/r/k/text()') AS xp_k,
          |    xpath_string(doc, '/r/nm/text()') AS xp_nm,
          |    xpath_long(doc, '/r/rg/text()') AS xp_rg,
          |    from_xml(doc, 'k BIGINT, nm STRING, rg BIGINT') AS st
          |  FROM x)
          |SELECT n_nationkey, xp_k, xp_nm, xp_rg,
          |  (xp_k = st.k AND xp_nm = st.nm AND xp_rg = st.rg)
          |    AS parsers_agree,
          |  CAST(length(doc) AS BIGINT) AS doc_len
          |FROM p ORDER BY n_nationkey""".stripMargin)
    },
      // the identical generated text, extraction replayed with regexp —
      // DuckDB never parses XML; parsers_agree is TRUE by construction
      // whenever both Spark parsers read the same values the regexp does
      """WITH x AS (
        |  SELECT n_nationkey,
        |    concat('<r><k>', CAST(n_nationkey AS VARCHAR), '</k><nm>',
        |      n_name, '</nm><rg>', CAST(n_regionkey AS VARCHAR),
        |      '</rg></r>') AS doc
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(regexp_extract(doc, '<k>([0-9]+)</k>', 1) AS BIGINT) AS xp_k,
        |  regexp_extract(doc, '<nm>([^<]*)</nm>', 1) AS xp_nm,
        |  CAST(regexp_extract(doc, '<rg>([0-9]+)</rg>', 1) AS BIGINT)
        |    AS xp_rg,
        |  TRUE AS parsers_agree,
        |  CAST(length(doc) AS BIGINT) AS doc_len
        |FROM x ORDER BY n_nationkey""".stripMargin),

    // -- ORDERED STRING/ARRAY AGGREGATION (§2.4): listagg ... WITHIN
    // GROUP (new in Spark 4 — the ANSI spelling) next to the
    // sort_array(collect_list(...)) idiom. Both are order-PINNED —
    // unordered collect is nondeterministic under partitioning and has
    // no place in an oracle-checked engine; the deterministic forms are
    // what a pipeline should ship anyway. DuckDB spells the same
    // semantics string_agg(x, sep ORDER BY x). Both result columns are
    // strings: the collected key set is array_join-rendered at the edge
    // because the comparator only hashes scalar column types.
    QuerySpec("q67_listagg", (s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation")
      s.sql(
        """SELECT n_regionkey,
          |  listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name)
          |    AS names,
          |  array_join(sort_array(collect_list(n_nationkey)), ',')
          |    AS keys,
          |  COUNT(*) AS n
          |FROM nation GROUP BY n_regionkey
          |ORDER BY n_regionkey""".stripMargin)
    },
      // same order-pinned semantics in DuckDB's spellings
      """SELECT n_regionkey,
        |  string_agg(n_name, '|' ORDER BY n_name) AS names,
        |  string_agg(CAST(n_nationkey AS VARCHAR), ','
        |    ORDER BY n_nationkey) AS keys,
        |  COUNT(*) AS n
        |FROM nation GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin),

    // -- UNION BY NAME WITH MISSING COLUMNS (§2.7's schema-drift form of
    // set union — how a pipeline appends a feed that gained or lost
    // columns without positional corruption): unionByName(allowMissing
    // Columns = true) null-fills each side's absent columns BY NAME,
    // where positional UNION ALL would silently misalign. The rollup
    // counts the null-filled cells per source so the compare proves the
    // fill pattern, not just row counts; sums are exact-decimal with
    // NULLs pinned to 0 before summing.
    QuerySpec("q68_union_missing_columns", (s, dir) => {
      val a = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
        .withColumn("src", lit("orders"))
      val b = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_quantity").as("qty"))
        .withColumn("src", lit("lineitem"))
      a.unionByName(b, allowMissingColumns = true)
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("price").isNull, 1L).otherwise(0L))
            .as("n_null_price"),
          sum(when(col("qty").isNull, 1L).otherwise(0L)).as("n_null_qty"),
          sumExact(coalesce(col("price"), lit(0.0))).as("price_total"),
          sumExact(coalesce(col("qty"), lit(0.0))).as("qty_total"))
        .orderBy(col("src"))
    },
      // the name-aligned union replayed as an explicit NULL-filled
      // UNION ALL — the semantics unionByName(allowMissingColumns) gives
      """WITH u AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price,
        |    CAST(NULL AS DOUBLE) AS qty, 'orders' AS src
        |  FROM orders
        |  UNION ALL
        |  SELECT l_orderkey, CAST(NULL AS DOUBLE), l_quantity, 'lineitem'
        |  FROM lineitem)
        |SELECT src, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_price,
        |  CAST(SUM(CASE WHEN qty IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_qty,
        |  CAST(SUM(CAST(COALESCE(price, 0.0) AS DECIMAL(18,6)))
        |    AS DOUBLE) AS price_total,
        |  CAST(SUM(CAST(COALESCE(qty, 0.0) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS qty_total
        |FROM u GROUP BY src ORDER BY src""".stripMargin),

    // -- PARAMETERIZED SQL front doors (§2.8): named parameter markers
    // (spark.sql(text, args) — the injection-safe API a service layer
    // uses) and EXECUTE IMMEDIATE ... USING (the SQL-script spelling,
    // new in Spark 4) — the SAME filter run through both binding paths
    // and cross-proven in one projection (q66's parsers_agree pattern).
    // The oracle inlines the literals: parameter binding must be
    // observationally identical to literal substitution.
    QuerySpec("q69_param_markers", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      val named = s.sql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
          |    AS total
          |FROM orders
          |WHERE o_orderstatus <> :skip AND o_totalprice > :minp
          |GROUP BY o_orderstatus""".stripMargin,
        Map("skip" -> "P", "minp" -> 1000.0))
      val exec = s.sql(
        "EXECUTE IMMEDIATE 'SELECT o_orderstatus AS st, COUNT(*) AS n2 " +
          "FROM orders WHERE o_orderstatus <> ? AND o_totalprice > ? " +
          "GROUP BY o_orderstatus' USING 'P', 1000.0D")
      named.join(exec, named("o_orderstatus") === exec("st"))
        .select(named("o_orderstatus"), named("n"), named("total"),
          (named("n") === exec("n2")).as("paths_agree"))
        .orderBy(named("o_orderstatus"))
    },
      // literals inlined — binding must equal substitution
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total,
        |  TRUE AS paths_agree
        |FROM orders
        |WHERE o_orderstatus <> 'P' AND o_totalprice > 1000.0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // -- SQL TABLE FUNCTION (CREATE FUNCTION ... RETURNS TABLE — the
    // Spark-4 SQL-native UDTF next to q50's scalar SQL UDF and q59's
    // built-in generators): a reusable parameterized view invoked with
    // LATERAL correlation, the way an analyst packages "the rows for X"
    // once and joins it everywhere. Catalyst inlines the function body,
    // so the plan is the same join it would be hand-written — zero
    // interpretive overhead (verified: no extra exchange vs the inlined
    // spelling). The oracle runs the inlined form: definition must be
    // observationally equal to substitution.
    QuerySpec("q70_sql_table_udf", (s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION region_nations(rk BIGINT)
          |RETURNS TABLE (n_nationkey BIGINT, n_name STRING)
          |RETURN SELECT n_nationkey, n_name FROM nation
          |  WHERE n_regionkey = rk""".stripMargin)
      s.sql(
        """SELECT r.rk, t.n_nationkey, t.n_name
          |FROM (SELECT explode(sequence(0L, 4L)) AS rk) r,
          |  LATERAL region_nations(r.rk) t
          |ORDER BY rk, n_nationkey""".stripMargin)
    },
      // the function body inlined — definition ≡ substitution
      """WITH r AS (SELECT unnest(range(0, 5)) AS rk)
        |SELECT CAST(r.rk AS BIGINT) AS rk,
        |  CAST(n.n_nationkey AS BIGINT) AS n_nationkey, n.n_name
        |FROM r JOIN nation n ON n.n_regionkey = r.rk
        |ORDER BY rk, n_nationkey""".stripMargin),

    // -- SESSION VARIABLES (DECLARE / SET VAR — Spark 4's SQL-script
    // state, the third parameter-binding front door next to q69's
    // markers): the filter thresholds live in session variables and the
    // query references them by bare name (columns shadow variables, so
    // the reference is unambiguous here by construction). The oracle
    // inlines the values — variable resolution must equal substitution.
    QuerySpec("q71_session_variables", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("DECLARE OR REPLACE VARIABLE minp DOUBLE DEFAULT 0.0")
      s.sql("SET VAR minp = 50000.0")
      s.sql("DECLARE OR REPLACE VARIABLE skip_status STRING DEFAULT 'P'")
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
          |    AS total
          |FROM orders
          |WHERE o_totalprice > minp AND o_orderstatus <> skip_status
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },
      // the variable values inlined — resolution ≡ substitution
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total
        |FROM orders
        |WHERE o_totalprice > 50000.0 AND o_orderstatus <> 'P'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // -- KEYSET PAGINATION (the deep-paging pattern that survives scale
    // where OFFSET cannot: OFFSET n scans-and-discards n rows on every
    // page, so page depth is O(n) per request; the keyset form seeks to
    // the last-seen (date, key) boundary with an indexable range
    // predicate and reads ONE page). Page 3 (rows 101–150 of orders by
    // (o_orderdate, o_orderkey)): the boundary is the top-100's last row
    // (a TakeOrderedAndProject, never a full sort), the page fetch a
    // pushed composite-range filter + top-50. The DuckDB oracle computes
    // the SAME page via LIMIT/OFFSET — a cross-construction proof that
    // the keyset predicate is exactly the offset semantics. The
    // composite predicate is spelled explicitly (d > b OR (d = b AND
    // k > bk)) — the form that pushes to the scan as an OR of ranges.
    QuerySpec("q72_keyset_pagination", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """WITH b AS (
          |  SELECT o_orderdate AS bd, o_orderkey AS bk
          |  FROM orders ORDER BY o_orderdate, o_orderkey
          |  LIMIT 1 OFFSET 99)
          |SELECT o_orderkey, o_orderdate, o_totalprice
          |FROM orders, b
          |WHERE o_orderdate > bd
          |   OR (o_orderdate = bd AND o_orderkey > bk)
          |ORDER BY o_orderdate, o_orderkey LIMIT 50""".stripMargin)
    },
      // the OFFSET construction of the same page — keyset ≡ offset is the
      // cross-proof (unique o_orderkey makes the order total, so both
      // constructions name the same 50 rows)
      """SELECT o_orderkey, o_orderdate, o_totalprice
        |FROM orders ORDER BY o_orderdate, o_orderkey
        |LIMIT 50 OFFSET 100""".stripMargin),

    // -- RECURSIVE CTE (WITH RECURSIVE — new in Spark 4): the iterative
    // front door next to q29's correlated one. Each part walks its
    // digit-trim ancestry to a single-digit root — the BOM-explosion /
    // org-chart shape SQL analysts write, executed by Spark's recursive
    // union operator with the same text DuckDB runs. Depth is bounded by
    // the key width (log₁₀), so the recursion is ~6 unions of
    // narrowing frames, not an unbounded loop.
    QuerySpec("q43_recursive_hierarchy", (s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("part")
      // The walk materializes |part| rows PER LEVEL (depth = key width,
      // ≲10 levels), so Spark's recursion guards bind at |part| ≥ 100k:
      // the default cteRecursionRowLimit (1e6 cumulative rows) fails an
      // 8× corpus even though the recursion provably terminates (anc
      // strictly shrinks by 10× per level). Depth stays FAR under the
      // level limit (100) — lift only the row guard; termination is
      // structural, not limit-dependent. Found by the 8×/32× scale
      // ladder (PLANS.md). Scope the override to this query — leaving the
      // runaway-recursion guard off on the shared session would disarm it
      // for everything that runs after (the gs15 provider-pin pattern).
      val prev = s.conf.getOption("spark.sql.cteRecursionRowLimit")
      s.conf.set("spark.sql.cteRecursionRowLimit", "-1")
      try Barriers.eager(s.sql(q43Sql))
      finally prev match {
        case Some(v) => s.conf.set("spark.sql.cteRecursionRowLimit", v)
        case None    => s.conf.unset("spark.sql.cteRecursionRowLimit")
      }
    },
      q43Sql),

    // -- SQL PIPE SYNTAX (|> operators — new in Spark 4): the second
    // Spark-4 SQL front door next to q43's WITH RECURSIVE. The pipe form
    // is pure SYNTAX: Catalyst plans FROM→WHERE→EXTEND→AGGREGATE→ORDER
    // into exactly the scan→filter→hash-agg→sort plan the q01-style
    // GROUP BY text produces (filter pushed to the parquet scan, partial
    // aggregation map-side), which is what the DuckDB oracle runs as
    // classic SQL — same semantics, different surface. Numerics follow
    // q01: per-row decimal casts make the sums order-independent.
    QuerySpec("q44_pipe_syntax", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """FROM lineitem
          ||> WHERE l_shipdate >= DATE '1996-01-01'
          ||> EXTEND CAST(l_extendedprice * (1.0 - l_discount)
          |          AS DECIMAL(18,6)) AS disc_price
          ||> AGGREGATE COUNT(*) AS n_items,
          |     CAST(SUM(disc_price) AS DOUBLE) AS revenue,
          |     CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
          |       AS total_qty
          |   GROUP BY l_returnflag, l_linestatus
          ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },
      // classic-SQL equivalent of the pipe chain — pipes are Spark-side
      // syntax; the plan and semantics are this GROUP BY
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |           AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1996-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // -- NULL-SEMANTICS GALLERY: three-valued logic is where engines
    // quietly disagree, so every rule this engine relies on is pinned in
    // one row: COUNT(*) vs COUNT(col), three-valued `<>` dropping NULL
    // comparisons, IN with a NULL operand, null-safe equality (`<=>`
    // here, IS NOT DISTINCT FROM in the oracle), COUNT(DISTINCT)
    // excluding NULLs, MIN ignoring NULLs, AVG of an all-NULL column
    // staying NULL, and COALESCE fallback. NULLs are synthesized with
    // NULLIF so the gallery runs on stock orders rows.
    // -- RELATIONAL DIVISION ("for all" / universal quantification): the
    // one classic relational-algebra operator with no SQL keyword —
    // customers whose orders cover EVERY calendar quarter. Planned as the
    // count-distinct-divisors form (one hash aggregate + HAVING), which
    // is both the textbook reduction and the scale-correct plan: a
    // single shuffle on the dividend key, divisor cardinality folded to
    // a constant — vs the double-NOT-EXISTS spelling that plans nested
    // correlated anti-joins. Identical ANSI text on both engines.
    // -- TABLE-GENERATING FUNCTION gallery (§2.10's UDTF surface, built
    // in): stack (wide→long), inline (array-of-struct flattening),
    // posexplode_outer (empty array → one NULL row — the OUTER
    // semantics), explode over a MAP. One generator per branch, unioned
    // into one frame with n/a cells pinned to ''/-1 instead of NULL
    // (Spark sorts NULLS FIRST, DuckDB NULLS LAST — coalescing dodges
    // the null-ordering divergence in the compare's row order). Each
    // generator plans as a Generate node feeding the union — map-side
    // fan-out, no shuffle until the final sort.
    QuerySpec("q59_generator_gallery", (s, dir) => {
      val n = t(s, dir, "nation").filter(col("n_nationkey") <= 9)
      val st = n.selectExpr("'stack' AS gen",
        "CAST(n_nationkey AS BIGINT) AS key",
        "stack(3, 'name_len', CAST(length(n_name) AS BIGINT)," +
          " 'key_sq', CAST(n_nationkey * n_nationkey AS BIGINT)," +
          " 'region', CAST(n_regionkey AS BIGINT)) AS (tag, v)")
        .select(col("gen"), col("key"), col("tag"),
          lit(-1L).as("pos"), col("v"))
      val inl = n.selectExpr("'inline' AS gen",
        "CAST(n_nationkey AS BIGINT) AS key",
        "inline(array(" +
          "named_struct('tag', 'a', 'v', CAST(n_nationkey AS BIGINT))," +
          " named_struct('tag', 'b', 'v', CAST(n_nationkey * 2 AS BIGINT))))")
        .select(col("gen"), col("key"), col("tag"),
          lit(-1L).as("pos"), col("v"))
      val pe = n.selectExpr("'pos_outer' AS gen",
        "CAST(n_nationkey AS BIGINT) AS key",
        "posexplode_outer(CASE WHEN n_nationkey % 4 = 0" +
          " THEN CAST(array() AS array<bigint>)" +
          " ELSE sequence(1L, CAST(n_nationkey % 4 AS BIGINT)) END)" +
          " AS (pos, v)")
        .select(col("gen"), col("key"), lit("").as("tag"),
          coalesce(col("pos").cast("long"), lit(-1L)).as("pos"),
          coalesce(col("v"), lit(-1L)).as("v"))
      val me = n.selectExpr("'map' AS gen",
        "CAST(n_nationkey AS BIGINT) AS key",
        "explode(map('x', CAST(n_nationkey AS BIGINT)," +
          " 'y', CAST(n_nationkey + 1 AS BIGINT))) AS (tag, v)")
        .select(col("gen"), col("key"), col("tag"),
          lit(-1L).as("pos"), col("v"))
      st.unionByName(inl).unionByName(pe).unionByName(me)
        .orderBy(col("gen"), col("key"), col("tag"), col("pos"))
    },
      """WITH n AS (
        |  SELECT n_nationkey, n_name, n_regionkey
        |  FROM nation WHERE n_nationkey <= 9),
        |st AS (
        |  SELECT 'stack' AS gen, CAST(n_nationkey AS BIGINT) AS key,
        |    'name_len' AS tag, CAST(-1 AS BIGINT) AS pos,
        |    CAST(len(n_name) AS BIGINT) AS v FROM n
        |  UNION ALL
        |  SELECT 'stack', n_nationkey, 'key_sq', -1,
        |    n_nationkey * n_nationkey FROM n
        |  UNION ALL
        |  SELECT 'stack', n_nationkey, 'region', -1, n_regionkey FROM n),
        |inl AS (
        |  SELECT 'inline', n_nationkey, 'a', -1, n_nationkey FROM n
        |  UNION ALL
        |  SELECT 'inline', n_nationkey, 'b', -1, n_nationkey * 2 FROM n),
        |pe AS (
        |  SELECT 'pos_outer', n_nationkey, '', CAST(j AS BIGINT),
        |    CAST(j + 1 AS BIGINT)
        |  FROM n, range(0, 3) t(j) WHERE j < n_nationkey % 4
        |  UNION ALL
        |  SELECT 'pos_outer', n_nationkey, '', -1, -1 FROM n
        |  WHERE n_nationkey % 4 = 0),
        |me AS (
        |  SELECT 'map', n_nationkey, 'x', -1, n_nationkey FROM n
        |  UNION ALL
        |  SELECT 'map', n_nationkey, 'y', -1, n_nationkey + 1 FROM n)
        |SELECT gen, CAST(key AS BIGINT) AS key, tag,
        |  CAST(pos AS BIGINT) AS pos, CAST(v AS BIGINT) AS v
        |FROM (SELECT * FROM st UNION ALL SELECT * FROM inl
        |      UNION ALL SELECT * FROM pe
        |      UNION ALL SELECT * FROM me) u(gen, key, tag, pos, v)
        |ORDER BY gen, key, tag, pos""".stripMargin),

    QuerySpec("q58_relational_division", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_custkey AS c_custkey,
          |  COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
          |    AS revenue
          |FROM orders
          |GROUP BY o_custkey
          |HAVING COUNT(DISTINCT quarter(o_orderdate)) = 4
          |ORDER BY c_custkey""".stripMargin)
    },
      // same gallery with the oracle's spellings (IS NOT DISTINCT FROM for
      // null-safe equality); every NULL rule must agree cell-for-cell
      """SELECT o_custkey AS c_custkey,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |    AS revenue
        |FROM orders
        |GROUP BY o_custkey
        |HAVING COUNT(DISTINCT quarter(o_orderdate)) = 4
        |ORDER BY c_custkey""".stripMargin),

    // -- ANSI aggregate FILTER clause (SQL:2003): the declarative spelling
    // of conditional aggregation — every engine on the board (and the
    // CASE-WHEN form used elsewhere) plans it as the same single-pass
    // partial/final hash aggregate with per-aggregate predicates; no
    // second scan, no join. The DISTINCT + FILTER combination is the one
    // that actually differs from CASE (a CASE NULL still feeds the
    // distinct set builder; FILTER skips the row entirely — same result
    // for non-null inputs, different execution). Oracle runs the
    // identical text: FILTER is ANSI, both parsers accept it.
    QuerySpec("q57_agg_filter", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderpriority,
          |  COUNT(*) AS n,
          |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
          |    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS rev_f,
          |  COUNT(DISTINCT o_custkey)
          |    FILTER (WHERE o_totalprice > 100000) AS n_big_cust,
          |  MIN(o_orderdate) FILTER (WHERE o_orderstatus = 'O')
          |    AS first_open
          |FROM orders
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    },
      """SELECT o_orderpriority,
        |  COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
        |    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS rev_f,
        |  COUNT(DISTINCT o_custkey)
        |    FILTER (WHERE o_totalprice > 100000) AS n_big_cust,
        |  MIN(o_orderdate) FILTER (WHERE o_orderstatus = 'O')
        |    AS first_open
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // -- NULL-SAFE EQUALITY JOIN (`<=>` / IS NOT DISTINCT FROM): the one
    // join predicate where NULL keys MATCH each other instead of silently
    // dropping — the semantics MERGE/SCD pipelines need for nullable
    // business keys. Spark plans EqualNullSafe as a regular equi-join key
    // (hash/broadcast join, audited: no nested-loop fallback), unlike a
    // naive `a.k = b.k OR (a.k IS NULL AND b.k IS NULL)` which degrades
    // to a non-equi nested loop. Scale note: `<=>` funnels EVERY null-key
    // row to one reducer — at 100 TB a hot null bucket is the classic
    // skew cell, handled by splitting the null slice into its own
    // (broadcastable) branch or salting (q23); here the nulls are a
    // bounded 1-in-25 nation slice and the small side broadcasts anyway.
    QuerySpec("q56_nullsafe_join", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"),
        expr("nullif(c_nationkey, 3)").as("k"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"),
        expr("nullif(s_nationkey, 3)").as("k2"))
      // AGGREGATE BEFORE THE MANY-TO-MANY JOIN: the key has 25 values
      // (+ NULL), so joining the raw sides enumerates Θ(|C|·|S|/|keys|)
      // pairs just to count them — the round-11 relational ladder
      // measured 93 s at the 32× rung (148× the 1× time; the NULL<=>NULL
      // group alone is a cross join of the null sets). Every output
      // statistic is a function of the per-key counts (keys are unique
      // per row on each side), so each side is read ONCE by a hash agg
      // and the null-safe join — still the <=> front door this query
      // exists to exercise, still plan-audited to a hash join — runs on
      // two ≤26-row frames. n_pairs = n_cust·n_supp by definition of the
      // many-to-many join; inner-join semantics (keys absent on either
      // side emit nothing) are preserved. Bit-identical output; the
      // oracle keeps the direct join form — a cross-construction proof.
      // Post-fix ladder: 0.6 s at 32× (was 93 s).
      val ca = c.groupBy(col("k")).agg(count(lit(1)).as("n_cust"))
      val sa = su.groupBy(col("k2")).agg(count(lit(1)).as("n_supp"))
      ca.join(broadcast(sa), col("k") <=> col("k2"))
        .select(col("k").as("nation_key"),
          (col("n_cust") * col("n_supp")).as("n_pairs"),
          col("n_cust"), col("n_supp"))
        .orderBy(col("nation_key").asc_nulls_first)
    },
      """SELECT k AS nation_key, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT c_custkey) AS n_cust,
        |  COUNT(DISTINCT s_suppkey) AS n_supp
        |FROM (SELECT c_custkey, NULLIF(c_nationkey, 3) AS k FROM customer) c
        |JOIN (SELECT s_suppkey, NULLIF(s_nationkey, 3) AS k2 FROM supplier) s
        |  ON k IS NOT DISTINCT FROM k2
        |GROUP BY k
        |ORDER BY nation_key NULLS FIRST""".stripMargin),

    QuerySpec("q55_null_gallery", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """WITH o AS (
          |  SELECT o_orderkey,
          |    NULLIF(o_orderstatus, 'P') AS st,
          |    NULLIF(o_totalprice, o_totalprice) AS pri
          |  FROM orders WHERE o_orderkey % 7 = 0)
          |SELECT
          |  COUNT(*) AS n_rows,
          |  COUNT(st) AS n_st_nonnull,
          |  COUNT(DISTINCT st) AS n_st_distinct,
          |  CAST(SUM(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_st_null,
          |  CAST(SUM(CASE WHEN st <> 'O' THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_neq_o,
          |  CAST(SUM(CASE WHEN st IN ('O', 'F') THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_in_of,
          |  CAST(SUM(CASE WHEN st <=> NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_nullsafe_null,
          |  MIN(st) AS min_st,
          |  COUNT(pri) AS n_pri_nonnull,
          |  AVG(pri) AS avg_pri,
          |  CAST(SUM(CASE WHEN COALESCE(st, 'X') = 'X' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_coalesced
          |FROM o""".stripMargin)
    },
      """WITH o AS (
        |  SELECT o_orderkey,
        |    NULLIF(o_orderstatus, 'P') AS st,
        |    NULLIF(o_totalprice, o_totalprice) AS pri
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT
        |  COUNT(*) AS n_rows,
        |  COUNT(st) AS n_st_nonnull,
        |  COUNT(DISTINCT st) AS n_st_distinct,
        |  CAST(SUM(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_st_null,
        |  CAST(SUM(CASE WHEN st <> 'O' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_neq_o,
        |  CAST(SUM(CASE WHEN st IN ('O', 'F') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_in_of,
        |  CAST(SUM(CASE WHEN st IS NOT DISTINCT FROM NULL THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_nullsafe_null,
        |  MIN(st) AS min_st,
        |  COUNT(pri) AS n_pri_nonnull,
        |  AVG(pri) AS avg_pri,
        |  CAST(SUM(CASE WHEN COALESCE(st, 'X') = 'X' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_coalesced
        |FROM o""".stripMargin),

    // -- JOIN STRATEGY HINTS: the surface an operator engineer reaches
    // for when the optimizer's size estimate is wrong — /*+ SHUFFLE_MERGE
    // */ forces a sort-merge join where Spark would auto-broadcast the
    // small customer side. Results are hint-invariant (the oracle is the
    // plain join); the PLAN is what the hint changes, and the audit
    // asserts both directions: unhinted → BroadcastHashJoin, hinted →
    // SortMergeJoin. At 100 TB this is the escape hatch when a "small"
    // dimension is small only in the stale statistics.
    QuerySpec("q54_join_hints", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql(
        """SELECT /*+ SHUFFLE_MERGE(c) */ c.c_mktsegment,
          |  COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
          |    AS revenue
          |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
          |GROUP BY c.c_mktsegment
          |ORDER BY c.c_mktsegment""".stripMargin)
    },
      // hint-free replay: the hint changes the PLAN, never the rows
      """SELECT c.c_mktsegment,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |    AS revenue
        |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin),

    // -- SQL PIVOT clause (the fourth SQL front door next to q43's
    // WITH RECURSIVE, q44's pipes and q52's UNPIVOT): q13's long→wide
    // reshape written as the PIVOT table operator — Catalyst plans the
    // clause into the same scan→partial-agg→final-agg the API twin gets
    // (the pivot columns become one conditional aggregate each; no
    // row-explosion stage). The oracle replays as portable conditional
    // CASE aggregation — the classic pre-PIVOT SQL form every engine
    // runs identically.
    QuerySpec("q53_sql_pivot", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      // COALESCE the count cells: Spark's PIVOT yields NULL for a
      // (priority, status) combo with no rows, while the oracle's
      // COUNT(CASE ...) replay yields 0 — a data-dependent divergence
      // whenever a priority lacks one status (TPC-H 'P' is the rarest).
      // Revenue cells stay un-coalesced: SUM over an empty cell is NULL
      // on both engines.
      s.sql(
        """SELECT o_orderpriority,
          |  COALESCE(o_n, 0) AS o_n, o_revenue,
          |  COALESCE(f_n, 0) AS f_n, f_revenue,
          |  COALESCE(p_n, 0) AS p_n, p_revenue
          |FROM (
          |  SELECT o_orderpriority, o_orderstatus,
          |    CAST(o_totalprice AS DECIMAL(18,6)) AS price
          |  FROM orders)
          |PIVOT (
          |  COUNT(*) AS n,
          |  CAST(SUM(price) AS DOUBLE) AS revenue
          |  FOR o_orderstatus IN ('O' AS o, 'F' AS f, 'P' AS p))
          |ORDER BY o_orderpriority""".stripMargin)
    },
      // conditional-aggregation replay of the PIVOT clause (the classic
      // pre-PIVOT SQL form) — identical cells, portable ANSI text
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE)
        |    AS o_revenue,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE)
        |    AS f_revenue,
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE)
        |    AS p_revenue
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // -- VARIANT ingestion (the Spark 4 semi-structured type): parse the
    // JSON props column ONCE into a VARIANT, extract typed paths with
    // variant_get (erroring semantics) and try_variant_get (NULL on
    // missing path — the schema-drift-tolerant form), then aggregate on
    // the extracted value. This is the open-schema ingest shape a
    // training-data pipeline needs when event payloads evolve faster
    // than the warehouse schema: VARIANT defers the schema to read time
    // but keeps extraction typed and codegen'd (no per-row UDF, no
    // second JSON parse per field). The oracle replays with classic
    // JSON-path extraction — same values, engine-native surfaces.
    QuerySpec("q45_variant_extract", (s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("events_v")
      s.sql(
        """SELECT event_type,
          |  COUNT(*) AS n_events,
          |  SUM(variant_get(v, '$.k', 'bigint')) AS sum_k,
          |  MAX(variant_get(v, '$.k', 'bigint')) AS max_k,
          |  COUNT(try_variant_get(v, '$.absent_field', 'string')) AS n_absent
          |FROM (SELECT event_type, parse_json(props) AS v FROM events_v)
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },
      // Regexp replay of the VARIANT extraction: same typed values,
      // engine-native surface (regexp path-pluck vs variant_get). Uses
      // q17's proven regexp_extract form instead of json_extract_string,
      // which diverged between DuckDB versions (round-8
      // verdict); the LIKE probe for the absent field is exact because
      // props is always a flat {"k": N} object in this table.
      """SELECT event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(regexp_extract(props, '"k":\s*(\d+)', 1)
        |    AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT))
        |    AS max_k,
        |  COUNT(CASE WHEN props LIKE '%"absent_field"%' THEN 1 END)
        |    AS n_absent
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // -- ORC sink + scan (the second columnar format next to parquet —
    // S3/S4's format-portability leg): orders round-trips through an ORC
    // store and the aggregate over the ORC scan must equal the oracle's
    // aggregate over the original parquet — ORC's doubles, decimals and
    // strings survive bit-exactly or the hash flips. The scan gets the
    // same Catalyst treatment as parquet (column pruning + predicate
    // pushdown into the ORC reader).
    QuerySpec("q46_orc_roundtrip", (s, dir) => {
      val work = java.nio.file.Files.createTempDirectory("graft-orc")
      graft.util.TempDirs.deleteOnExit(work)
      t(s, dir, "orders").write.mode("overwrite").orc(s"$work/orders")
      s.read.orc(s"$work/orders")
        .filter(col("o_orderstatus") =!= "P")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sumExact(col("o_totalprice")).as("total_price"))
        .orderBy(col("o_orderpriority"))
    },
      // the same aggregate over the ORIGINAL parquet — equality proves the
      // ORC round-trip lossless
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total_price
        |FROM orders WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // -- JSON-lines sink + scan (the interchange format every ingest
    // pipeline meets): events round-trip through .json files with an
    // EXPLICIT read schema (schema inference is a scan-the-data tax and
    // a type lottery — never at scale). Timestamps ride as integer
    // micros to keep the text form engine/timezone-neutral; doubles
    // survive the text round-trip exactly (Spark writes shortest-repr,
    // reads nearest — identity on IEEE-754).
    QuerySpec("q47_jsonl_roundtrip", (s, dir) => {
      val work = java.nio.file.Files.createTempDirectory("graft-jsonl")
      graft.util.TempDirs.deleteOnExit(work)
      val base = t(s, dir, "events").select(col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      base.write.mode("overwrite").json(s"$work/events")
      s.read.schema(base.schema).json(s"$work/events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumExact(col("value")).as("total_value"),
          max(col("ts_us")).as("max_ts_us"))
        .orderBy(col("event_type"))
    },
      // the same aggregate over the original parquet — equality proves the
      // JSON-lines round-trip lossless
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        |  MAX(epoch_us(ts)) AS max_ts_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // -- LATERAL correlated subquery (JOIN LATERAL ... ORDER BY ...
    // LIMIT): the per-row top-N idiom SQL analysts write instead of a
    // rank window. Catalyst DECORRELATES it — the plan is the same
    // window/rank shape q06 uses, not a per-customer re-execution, which
    // is exactly why it scales (one shuffle on the correlation key).
    QuerySpec("q48_lateral_topn", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer c JOIN LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders o
          |  WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
          |WHERE c.c_mktsegment = 'BUILDING'
          |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
    },
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t ON true
        |WHERE c.c_mktsegment = 'BUILDING'
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin),

    // -- NOT IN (null-aware anti join): subtly DIFFERENT from q11's
    // NOT EXISTS anti join — if the subquery produces even one NULL,
    // NOT IN returns no rows at all (three-valued logic), so Spark plans
    // a dedicated null-aware anti join instead of a plain left-anti.
    // The predicate column here is non-null in the data, so the result
    // matches the anti join — but the PLAN is the null-aware variant,
    // and the semantics are pinned against the oracle's identical
    // three-valued evaluation.
    QuerySpec("q49_null_aware_anti", (s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("part")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT p_partkey, p_brand FROM part
          |WHERE p_partkey NOT IN
          |  (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
          |ORDER BY p_partkey""".stripMargin)
    },
      """SELECT p_partkey, p_brand FROM part
        |WHERE p_partkey NOT IN
        |  (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
        |ORDER BY p_partkey""".stripMargin),

    // -- SQL scalar UDF (CREATE FUNCTION ... RETURN expr — the
    // DECLARATIVE UDF surface, §2.10's missing leg next to the native
    // Catalyst expressions and the typed Aggregator): the body is a SQL
    // expression, so the analyzer INLINES it at every call site — the
    // executed plan contains the expanded arithmetic inside
    // WholeStageCodegen, no interpreted function-call node, no
    // serialization wall (the audit spec pins this). This is the UDF
    // form to teach users FIRST: same reuse as a Scala UDF, zero
    // codegen penalty. Oracle replays with the body inlined by hand.
    QuerySpec("q50_sql_udf", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(
          |  p DOUBLE, d DOUBLE) RETURNS DOUBLE
          |RETURN p * (1.0 - d)""".stripMargin)
      s.sql(
        """SELECT l_returnflag, COUNT(*) AS n_items,
          |  CAST(SUM(CAST(graft_disc_price(l_extendedprice, l_discount)
          |           AS DECIMAL(18,6))) AS DOUBLE) AS revenue
          |FROM lineitem
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    },
      // the UDF body inlined by hand — what Spark's analyzer does
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |           AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // -- GROUP BY ALL / ORDER BY ALL: the analyst-ergonomics surface
    // (every non-aggregate output column becomes a grouping key; order
    // by the full select list) — resolved at ANALYSIS into the ordinary
    // grouped plan, so it costs nothing and can't drift from explicit
    // keys. DuckDB pioneered the same shorthand, so the oracle runs the
    // identical text.
    QuerySpec("q51_group_by_all", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
          |    AS total_price
          |FROM orders
          |GROUP BY ALL
          |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
    },
      // identical text — DuckDB shares the GROUP BY ALL shorthand
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total_price
        |FROM orders
        |GROUP BY ALL
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin),

    // -- SQL UNPIVOT clause (the third Spark-4 SQL front door next to
    // q43's WITH RECURSIVE and q44's pipes): the same wide→long reshape
    // q14 does through the Dataset API, written as the UNPIVOT table
    // operator and immediately re-aggregated — Catalyst plans the clause
    // into the identical scan→Expand→hash-agg the API twin gets, with
    // the shipdate filter pushed THROUGH the Expand to the parquet scan.
    // The oracle replays as the classic 4-arm UNION ALL (plain ANSI —
    // DuckDB's own UNPIVOT clause is newer syntax, and per the round-9
    // portability policy oracles avoid version-sensitive surfaces).
    QuerySpec("q52_sql_unpivot", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT metric, COUNT(*) AS n,
          |  CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS total
          |FROM lineitem
          |  UNPIVOT (val FOR metric IN
          |    (l_quantity, l_extendedprice, l_discount, l_tax))
          |WHERE l_shipdate >= DATE '1997-01-01'
          |GROUP BY metric
          |ORDER BY metric""".stripMargin)
    },
      // 4-arm UNION ALL replay of the UNPIVOT clause — identical rows,
      // portable ANSI text
      """WITH u AS (
        |  SELECT 'l_quantity' AS metric, l_quantity AS val
        |  FROM lineitem WHERE l_shipdate >= DATE '1997-01-01'
        |  UNION ALL
        |  SELECT 'l_extendedprice', l_extendedprice
        |  FROM lineitem WHERE l_shipdate >= DATE '1997-01-01'
        |  UNION ALL
        |  SELECT 'l_discount', l_discount
        |  FROM lineitem WHERE l_shipdate >= DATE '1997-01-01'
        |  UNION ALL
        |  SELECT 'l_tax', l_tax
        |  FROM lineitem WHERE l_shipdate >= DATE '1997-01-01')
        |SELECT metric, COUNT(*) AS n,
        |  CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM u GROUP BY metric ORDER BY metric""".stripMargin),

    // -- aggregation (TPC-H Q1 shape): partial+final hash agg, 6-group output
    QuerySpec("q01_pricing_summary", (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumExact(col("l_quantity")).as("sum_qty"),
          sumExact(col("l_extendedprice")).as("sum_base_price"),
          sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          avgExact(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      s"""SELECT l_returnflag, l_linestatus,
         |  $sumQty AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
         |  $sumQty / COUNT(*) AS avg_qty,
         |  COUNT(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // -- filter + projection: both pushed into the parquet scan
    QuerySpec("q02_filter_project", (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_quantity") >= 30 && col("l_quantity") <= 40 && col("l_discount") > 0.05)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 6)).cast("double").as("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_quantity >= 30 AND l_quantity <= 40 AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // -- multiway join: fact(orders) ⋈ customer ⋈ nation ⋈ region; the three
    // dimension sides are broadcast (no shuffle of the fact table at all)
    QuerySpec("q03_join_multiway", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      // Broadcast hints ONLY on the genuinely fixed-cardinality dims
      // (nation 25 / region 5 rows — they cannot grow with the business).
      // customer grows with the facts, so its join strategy is left to
      // Catalyst/AQE statistics: below autoBroadcastJoinThreshold it
      // broadcasts exactly as a hint would; past it (the 128× QLADDER
      // rung measures this regime) the plan switches to a shuffle join
      // instead of forcing an ever-growing table through the driver.
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sumExact(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"), col("n_name"))
    },
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    // -- large fact-fact join (lineitem ⋈ orders shuffles once on orderkey;
    // customer joins by AQE statistics — broadcast while small, shuffle
    // past the threshold) + derived grouping column
    QuerySpec("q04_segment_month_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      // customer is a GROWING dim — no broadcast hint (q03's rationale):
      // AQE broadcasts it while it fits and falls back to a shuffle join
      // past the threshold, which is the only join shape that survives
      // 100 TB dims.
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .withColumn("order_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .groupBy(col("c_mktsegment"), col("order_month"))
        .agg(
          sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("c_mktsegment"), col("order_month"))
    },
      """SELECT c_mktsegment, strftime(o_orderdate, '%Y-%m') AS order_month,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, order_month
        |ORDER BY c_mktsegment, order_month""".stripMargin),

    // -- top-k: Catalyst plans TakeOrderedAndProject (no full sort/shuffle)
    QuerySpec("q05_topk_orders", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // -- window ranking: top-3 orders per customer (one shuffle on custkey)
    QuerySpec("q06_top3_per_customer", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long")) // DuckDB ROW_NUMBER() is BIGINT
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    },
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin),

    // -- analytic window: lag + running sum per user over event time
    QuerySpec("q07_user_running_total", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("running_value",
          sum(sumExactCol(col("value")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .select(
          col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("value"), col("prev_value"), col("running_value"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
        |  LAG(value, 1) OVER w AS prev_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts_us, event_id""".stripMargin),

    // -- grouping sets via rollup
    QuerySpec("q08_rollup_flags", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumExact(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n_rows"))
        .orderBy(col("returnflag"), col("linestatus"))
    },
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin),

    // -- exact distinct aggregation (Spark expands to a two-phase agg)
    QuerySpec("q09_distinct_stats", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // -- set operations: INTERSECT / EXCEPT / UNION DISTINCT
    QuerySpec("q10_setops", (s, dir) => {
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val buyers = t(s, dir, "orders").select(col("o_custkey").as("c_custkey")).distinct()
      val i = building.intersect(buyers)
        .agg(count(lit(1)).as("n")).select(lit("intersect").as("op"), col("n"))
      val e = building.except(buyers)
        .agg(count(lit(1)).as("n")).select(lit("except").as("op"), col("n"))
      val u = building.union(buyers).distinct()
        .agg(count(lit(1)).as("n")).select(lit("union").as("op"), col("n"))
      i.unionByName(e).unionByName(u).orderBy(col("op"))
    },
      """WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |     buyers AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
        |SELECT op, n FROM (
        |  SELECT 'intersect' AS op, COUNT(*) AS n FROM (SELECT * FROM building INTERSECT SELECT * FROM buyers)
        |  UNION ALL
        |  SELECT 'except' AS op, COUNT(*) AS n FROM (SELECT * FROM building EXCEPT SELECT * FROM buyers)
        |  UNION ALL
        |  SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT * FROM building UNION SELECT * FROM buyers)
        |) ORDER BY op""".stripMargin),

    // -- semi / anti joins (EXISTS / NOT EXISTS shapes)
    QuerySpec("q11_semi_anti", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey"))
      val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .withColumn("side", lit("with_orders"))
      val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .withColumn("side", lit("without_orders"))
      withOrders.unionByName(withoutOrders)
        .orderBy(col("side"), col("c_mktsegment"))
    },
      """SELECT c_mktsegment, n, side FROM (
        |  SELECT c_mktsegment, COUNT(*) AS n, 'with_orders' AS side FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_mktsegment
        |  UNION ALL
        |  SELECT c_mktsegment, COUNT(*) AS n, 'without_orders' AS side FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_mktsegment
        |) ORDER BY side, c_mktsegment""".stripMargin),

    // -- pivot (long→wide, SURVEY.md U2): explicit value list keeps the
    // column set static so no extra collect-distinct job runs
    QuerySpec("q13_pivot_daily", (s, dir) => {
      t(s, dir, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sumExact(col("value")))
        .orderBy(col("day"))
    },
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS view
        |FROM events GROUP BY day ORDER BY day""".stripMargin),

    // -- unpivot (wide→long, SURVEY.md U1)
    QuerySpec("q14_unpivot_lineitem", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "metric", "val")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
    },
      """SELECT l_orderkey, l_linenumber, metric, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem WHERE l_orderkey <= 100
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem WHERE l_orderkey <= 100
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem WHERE l_orderkey <= 100
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem WHERE l_orderkey <= 100
        |) ORDER BY l_orderkey, l_linenumber, metric""".stripMargin),

    // -- scalar function gallery (string/date/math builtins, SURVEY.md §2.8)
    QuerySpec("q15_scalar_gallery", (s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_upper"),
        length(col("p_name")).cast("long").as("name_len"), // DuckDB LENGTH is BIGINT
        substring(col("p_name"), 1, 8).as("name_prefix"),
        regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_first"),
        concat_ws("-", col("p_brand"), col("p_size").cast("string")).as("brand_size"),
        (col("p_retailprice") * lit(1.1)).cast(DecimalType(18, 4)).cast("double").as("inflated"),
        pmod(col("p_partkey"), lit(7)).as("key_mod"),
        // cast: DuckDB GREATEST(INTEGER, lit) widens to BIGINT where
        // Spark stays INTEGER — driver-green in r09 (so INT32≡INT64 is
        // hash-safe there) but the local type gate pins them equal anyway
        greatest(col("p_size"), lit(25)).cast("long").as("size_floor")
      ).orderBy(col("p_partkey"))
    },
      """SELECT p_partkey,
        |  UPPER(p_brand) AS brand_upper,
        |  LENGTH(p_name) AS name_len,
        |  SUBSTR(p_name, 1, 8) AS name_prefix,
        |  REGEXP_EXTRACT(p_type, '^(\w+)', 1) AS type_first,
        |  CONCAT_WS('-', p_brand, CAST(p_size AS VARCHAR)) AS brand_size,
        |  CAST(CAST(p_retailprice * 1.1 AS DECIMAL(18,4)) AS DOUBLE) AS inflated,
        |  p_partkey % 7 AS key_mod,
        |  CAST(GREATEST(p_size, 25) AS BIGINT) AS size_floor
        |FROM part ORDER BY p_partkey""".stripMargin),

    // -- CASE WHEN bucketing + aggregation
    QuerySpec("q16_case_bucket", (s, dir) => {
      t(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 150000, "medium")
            .otherwise("large"))
        .groupBy(col("o_orderstatus"), col("bucket"))
        .agg(count(lit(1)).as("n"), sumExact(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderstatus"), col("bucket"))
    },
      """SELECT o_orderstatus,
        |  CASE WHEN o_totalprice < 50000 THEN 'small'
        |       WHEN o_totalprice < 150000 THEN 'medium'
        |       ELSE 'large' END AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderstatus, bucket
        |ORDER BY o_orderstatus, bucket""".stripMargin),

    // -- JSON extraction from events.props (SURVEY.md §2.12)
    QuerySpec("q17_json_extract", (s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .withColumn("k_bucket", pmod(col("k"), lit(10)))
        .groupBy(col("k_bucket"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total_value"))
        .orderBy(col("k_bucket"))
    },
      """SELECT CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) % 10 AS k_bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY k_bucket ORDER BY k_bucket""".stripMargin),

    // -- range (interval) join: lineitems shipped in the first 10 days of
    // any order month. Written as bin-equi-join + residual filter: because
    // each [month-start, +10d) window lies inside one calendar month, the
    // range condition collapses to an equi-join on the month bin — a
    // broadcast hash join instead of the O(rows × windows) nested loop a
    // naive range predicate would plan. This binning is the generic
    // 100 TB recipe for interval joins (bin to fixed buckets, equi-join on
    // bucket, re-check the exact range as a residual).
    QuerySpec("q18_range_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val windows = t(s, dir, "orders")
        .select(date_trunc("month", col("o_orderdate")).as("win_start")).distinct()
      li.withColumn("ship_month", date_trunc("month", col("l_shipdate")))
        .join(broadcast(windows), col("ship_month") === col("win_start"))
        .filter(col("l_shipdate") < col("win_start") + expr("INTERVAL 10 DAYS"))
        .groupBy(date_format(col("win_start"), "yyyy-MM-dd").as("win_start"))
        .agg(count(lit(1)).as("n"),
          sumExact(col("l_extendedprice")).as("revenue"))
        .orderBy(col("win_start"))
    },
      """WITH w AS (SELECT DISTINCT date_trunc('month', o_orderdate) AS m FROM orders)
        |SELECT strftime(m, '%Y-%m-%d') AS win_start, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN w
        |  ON l_shipdate >= m AND l_shipdate < m + INTERVAL 10 DAY
        |GROUP BY win_start ORDER BY win_start""".stripMargin),

    // -- approximate distinct (HLL sketch). The sketch VALUE is
    // engine-specific, but sketch ACCURACY is checkable: the exact distinct
    // count runs alongside in-engine and the output carries
    // `|approx - exact| / exact <= 0.05` booleans (0.05 = Spark's default
    // HLL++ rsd). The DuckDB oracle computes the same exact counts and
    // asserts the same booleans from its side — deterministic and
    // hash-matchable, so a broken sketch flips the compare red instead of
    // sailing through a rows-only check. Exact counterpart: q09.
    QuerySpec("q19_approx_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_suppkey")).as("approx_supps"),
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .select(col("l_returnflag"), col("n_parts"), col("n_supps"),
          (abs(col("approx_parts") - col("n_parts")).cast("double")
            <= col("n_parts") * 0.05).as("parts_within_tol"),
          (abs(col("approx_supps") - col("n_supps")).cast("double")
            <= col("n_supps") * 0.05).as("supps_within_tol"))
        .orderBy(col("l_returnflag")),
      // exact counts computed by DuckDB independently; the within_tol booleans
      // are asserted TRUE — if Spark's sketch drifts past tolerance its FALSE
      // hash-mismatches here (rsd 0.05 = Spark's default HLL++ precision)
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  TRUE AS parts_within_tol,
        |  TRUE AS supps_within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // -- full cube (all 4 grouping sets; completes §2.4 next to q08's rollup)
    QuerySpec("q20_cube_status_priority", (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sumExact(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("revenue"), col("n_orders"))
        .orderBy(col("status"), col("priority")),
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin),

    // -- GENERAL interval join: 45-day windows that cross month-bin
    // boundaries (q18's windows sit inside one bin; these don't). The scale
    // recipe: explode each window into the 2-3 month bins it overlaps,
    // equi-join probe rows on their bin (broadcast here, shuffle-hash at
    // scale — never a nested-loop range join), then re-check the exact
    // range as a residual filter. Fan-out factor = window span / bin width,
    // bounded and chosen, never O(rows × windows).
    QuerySpec("q21_interval_join_multibin", (s, dir) => {
      val wins = t(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(1000)) === 0)
        .select(col("o_orderkey").as("win_id"),
          col("o_orderdate").as("win_start"),
          date_add(col("o_orderdate"), 45).as("win_end")) // [start, end)
      val binned = wins.withColumn("bin", explode(expr(
        "sequence(date_trunc('month', win_start), date_trunc('month', date_sub(win_end, 1)), interval 1 month)")))
      // PRE-AGGREGATE onto the day grid before the interval join (the
      // round-11 relational cost ladder caught the direct fact-side form
      // going 2.1 → 6.1 → 51.3 s at 1×/8×/32×: the month bin key has
      // FIXED cardinality while windows AND facts both grow ×N, so the
      // joined volume is Θ(N²)). The day grid is fixed-cardinality
      // (|dates|), so the window join touches |windows|·45 day-partials
      // regardless of fact volume — the fact table is read ONCE by a
      // map-side-combinable hash agg. Decimal partial sums re-add
      // exactly (decimal addition is associative), so `revenue` is
      // bit-identical to the single-level sumExact and the oracle is
      // untouched. Post-fix ladder: 3.0/3.3/4.7 s — flat.
      val daily = t(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(count(lit(1)).as("dn"),
          sum(sumExactCol(col("l_extendedprice"))).as("drev"))
      daily
        .withColumn("bin", date_trunc("month", col("day")))
        .join(broadcast(binned), Seq("bin"))
        .filter(col("day") >= to_date(col("win_start")) &&
          col("day") < to_date(col("win_end")))
        .groupBy(col("win_id"))
        .agg(sum(col("dn")).as("n"),
          sum(col("drev")).cast("double").as("revenue"))
        .orderBy(col("win_id"))
    },
      """WITH wins AS (
        |  SELECT o_orderkey AS win_id, o_orderdate AS win_start,
        |    o_orderdate + INTERVAL 45 DAY AS win_end
        |  FROM orders WHERE o_orderkey % 1000 = 0)
        |SELECT win_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN wins
        |  ON l_shipdate >= win_start AND l_shipdate < win_end
        |GROUP BY win_id ORDER BY win_id""".stripMargin),

    // -- arbitrary GROUPING SETS through the engine's SQL entry point
    // (rollup = q08, cube = q20; this is the general form neither covers)
    QuerySpec("q22_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM graft_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY returnflag, linestatus""")
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY returnflag, linestatus""".stripMargin),

    // -- skew-resistant salted join (operators.SaltedJoin): same rows as the
    // plain equi-join — the oracle proves salting is output-invariant — while
    // hot orderkeys spread over 8 reducers instead of one straggler
    QuerySpec("q23_salted_skew_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.SaltedJoin.join(li, o, "l_orderkey", salts = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sumExact(col("l_extendedprice")).as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // -- bucketed co-located fact-fact join: both sides read from the
    // 8-bucket tables written on l_orderkey, so the `merge`-hinted
    // sort-merge join plans with NO Exchange on either input (the only
    // shuffle in the whole query is the final tiny per-priority aggregate —
    // PlanAuditSpec asserts exactly that on this registered query). The
    // oracle recomputes from the raw parquet, pinning that bucketing
    // changed the plan and not the answer.
    QuerySpec("q28_bucketed_join", (s, dir) => {
      val (liT, oT) = bucketedTables(s, dir)
      s.table(liT).hint("merge")
        .join(s.table(oT).hint("merge"), "l_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sumExact(col("l_quantity")).as("sum_qty"),
          sumExact(col("l_extendedprice")).as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // -- higher-moment aggregate gallery (Flux mode/skew/kurtosis): the
    // four power sums Σx..Σx⁴ are accumulated as EXACT decimals (values
    // have ≤2 fractional digits, so x⁴ is exact at scale 8 and the sums
    // are order-independent under any partitioning), cast to double once,
    // and the population skewness/kurtosis assembled with one fixed IEEE
    // tree mirrored by the oracle. mode is exact with a deterministic
    // (max count, min value) tie-break. Scale: one partial+final hash agg
    // for the moments; mode adds one (key, value) agg + per-key top-1.
    QuerySpec("q30_moment_stats", (s, dir) => {
      // staged exact powers: x² re-anchored at DECIMAL(19,4) so x³/x⁴ stay
      // inside 38 digits on BOTH engines (x ≤ 500.02 with 2 decimals, so
      // every stage is exact; Spark would otherwise hit the 38-precision
      // cap on the 4th power and silently round)
      val d = t(s, dir, "events").select(col("event_type"),
        col("value").cast("decimal(12,2)").as("x"))
        .withColumn("x2", (col("x") * col("x")).cast("decimal(19,4)"))
      val m = d.groupBy(col("event_type")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("s1"),
        sum(col("x2")).cast("double").as("s2"),
        sum(col("x2") * col("x")).cast("double").as("s3"),
        sum(col("x2") * col("x2")).cast("double").as("s4"))
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("m2", col("s2") / col("n") - col("mean") * col("mean"))
        .withColumn("m3", col("s3") / col("n")
          - lit(3.0) * col("mean") * (col("s2") / col("n"))
          + lit(2.0) * col("mean") * col("mean") * col("mean"))
        .withColumn("m4", col("s4") / col("n")
          - lit(4.0) * col("mean") * (col("s3") / col("n"))
          + lit(6.0) * col("mean") * col("mean") * (col("s2") / col("n"))
          - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
        .select(col("event_type"), col("n").cast("long").as("n"),
          round(col("mean"), 6).as("mean"),
          // m2^1.5 as m2*sqrt(m2): sqrt is IEEE-exact on both engines,
          // pow(x, 1.5) is not guaranteed to be
          round(col("m3") / (col("m2") * sqrt(col("m2"))), 6).as("skewness"),
          round(col("m4") / (col("m2") * col("m2")), 6).as("kurtosis"))
      val counts = t(s, dir, "events")
        .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("c"))
      val wMode = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("c").desc, col("value"))
      val mode = counts.withColumn("rnk", row_number().over(wMode))
        .filter(col("rnk") === 1)
        .select(col("event_type"), col("value").as("mode_value"))
      m.join(mode, "event_type").orderBy(col("event_type"))
    },
      """WITH d AS (
        |  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS x,
        |    CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))
        |      AS DECIMAL(19,4)) AS x2
        |  FROM events),
        |m AS (
        |  SELECT event_type,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS s1,
        |    CAST(SUM(x2) AS DOUBLE) AS s2,
        |    CAST(SUM(x2 * x) AS DOUBLE) AS s3,
        |    CAST(SUM(x2 * x2) AS DOUBLE) AS s4
        |  FROM d GROUP BY event_type),
        |e AS (
        |  SELECT event_type, n, s1 / n AS mean,
        |    s2 / n - (s1 / n) * (s1 / n) AS m2,
        |    s3 / n - 3.0 * (s1 / n) * (s2 / n)
        |      + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
        |    s4 / n - 4.0 * (s1 / n) * (s3 / n)
        |      + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
        |      - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        |  FROM m),
        |c AS (
        |  SELECT event_type, value AS mode_value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY COUNT(*) DESC, value) AS rnk
        |  FROM events GROUP BY event_type, value),
        |md AS (SELECT event_type, mode_value FROM c WHERE rnk = 1)
        |SELECT e.event_type, CAST(n AS BIGINT) AS n,
        |  ROUND(mean, 6) AS mean,
        |  ROUND(m3 / (m2 * sqrt(m2)), 6) AS skewness,
        |  ROUND(m4 / (m2 * m2), 6) AS kurtosis,
        |  mode_value
        |FROM e JOIN md USING (event_type) ORDER BY e.event_type""".stripMargin),

    // -- the ANSI SQL front door: correlated scalar subqueries + EXISTS,
    // run through spark.sql() over temp views — the analyst-facing surface
    // next to the DataFrame API. ONE SQL text runs verbatim on both
    // engines (q29Sql below is also the oracle entry). Catalyst
    // DECORRELATES both subqueries into a per-segment aggregate join and
    // the EXISTS into a left-semi join — no per-row re-execution anywhere;
    // the above-average test multiplies by the count instead of dividing
    // (exact decimal compare, no engine-specific AVG rounding).
    QuerySpec("q29_correlated_subquery", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(q29Sql)
    },
      // the exact text spark.sql() runs — shared by construction
      q29Sql),

    // -- exact percentiles (linear interpolation at (n-1)p, the definition
    // Spark `percentile` and DuckDB `quantile_cont` share). Exact percentile
    // buffers the group's values — fine per bounded group; the unbounded
    // 100 TB path is q25's sketch.
    QuerySpec("q24_percentiles", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("round(percentile(l_quantity, 0.25), 6)").as("qty_p25"),
          expr("round(percentile(l_quantity, 0.5), 6)").as("qty_p50"),
          expr("round(percentile(l_quantity, 0.75), 6)").as("qty_p75"),
          expr("round(percentile(l_extendedprice, 0.9), 6)").as("price_p90"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.25), 6) AS qty_p25,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS qty_p50,
        |  ROUND(quantile_cont(l_quantity, 0.75), 6) AS qty_p75,
        |  ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // -- approximate percentiles (bounded-memory sketch): the 100 TB path —
    // constant state per group regardless of group size; q24 is the exact
    // counterpart. Like q19 the sketch VALUE is engine-specific but its
    // ACCURACY is not: the exact percentiles run alongside and the output
    // carries `|approx - exact| <= max(1.0, 2% of exact)` booleans (at
    // accuracy 10000 the sketch's rank error is 1e-4, far inside that band;
    // the 1.0 floor covers integer-valued l_quantity where the exact
    // interpolated quantile can sit between two attainable data values).
    // The oracle recomputes the exact side and asserts the same booleans.
    QuerySpec("q25_approx_percentiles", (s, dir) => {
      def ok(approx: org.apache.spark.sql.Column,
             exact: org.apache.spark.sql.Column) =
        abs(approx - exact) <= greatest(lit(1.0), abs(exact) * 0.02)
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 10000)")
            .as("aq"),
          expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("ap90"),
          expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").as("eq"),
          expr("percentile(l_extendedprice, 0.9)").as("ep90"))
        .select(col("l_returnflag"),
          round(element_at(col("eq"), 1), 6).as("qty_p25"),
          round(element_at(col("eq"), 2), 6).as("qty_p50"),
          round(element_at(col("eq"), 3), 6).as("qty_p75"),
          round(col("ep90"), 6).as("price_p90"),
          ok(element_at(col("aq"), 1), element_at(col("eq"), 1)).as("p25_within_tol"),
          ok(element_at(col("aq"), 2), element_at(col("eq"), 2)).as("p50_within_tol"),
          ok(element_at(col("aq"), 3), element_at(col("eq"), 3)).as("p75_within_tol"),
          ok(col("ap90"), col("ep90")).as("p90_within_tol"))
        .orderBy(col("l_returnflag"))
    },
      // exact percentiles recomputed via quantile_cont (same (n-1)p linear
      // interpolation as Spark `percentile`); the sketch-accuracy booleans are
      // asserted TRUE — a broken t-digest flips them FALSE on the Spark side
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.25), 6) AS qty_p25,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS qty_p50,
        |  ROUND(quantile_cont(l_quantity, 0.75), 6) AS qty_p75,
        |  ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90,
        |  TRUE AS p25_within_tol,
        |  TRUE AS p50_within_tol,
        |  TRUE AS p75_within_tol,
        |  TRUE AS p90_within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // -- array function gallery (sort/distinct/slice/contains/position/
    // reverse over split words; complements q15's scalar gallery). Arrays
    // are emitted as joined strings so the oracle compare stays scalar.
    QuerySpec("q27_array_gallery", (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        expr("size(split(p_name, ' '))").cast("long").as("n_words"),
        expr("array_join(sort_array(array_distinct(split(p_name, ' '))), ',')")
          .as("sorted_words"),
        expr("array_join(slice(split(p_name, ' '), 1, 2), ' ')").as("first_two"),
        expr("array_contains(split(p_name, ' '), 'green')").as("has_green"),
        // both engines yield 0 for an absent element (1-based otherwise)
        expr("array_position(split(p_name, ' '), 'green')")
          .cast("long").as("green_pos"),
        expr("array_join(reverse(split(p_name, ' ')), ' ')").as("reversed"))
        .orderBy(col("p_partkey")),
      """SELECT p_partkey,
        |  len(string_split(p_name, ' ')) AS n_words,
        |  array_to_string(list_sort(list_distinct(string_split(p_name, ' '))), ',') AS sorted_words,
        |  array_to_string(string_split(p_name, ' ')[1:2], ' ') AS first_two,
        |  list_contains(string_split(p_name, ' '), 'green') AS has_green,
        |  CAST(list_position(string_split(p_name, ' '), 'green') AS BIGINT) AS green_pos,
        |  array_to_string(list_reverse(string_split(p_name, ' ')), ' ') AS reversed
        |FROM part ORDER BY p_partkey""".stripMargin),

    // -- full outer join with unmatched rows on BOTH sides (customer sample
    // vs per-customer order counts), completing the join-type family
    QuerySpec("q26_outer_join", (s, dir) => {
      val c = t(s, dir, "customer")
        .filter(col("c_custkey") <= 500)
        .select(col("c_custkey"), col("c_mktsegment"))
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .groupBy(coalesce(col("c_mktsegment"), lit("NONE")).as("segment"))
        .agg(
          count(lit(1)).as("n_keys"),
          count(col("c_custkey")).as("n_cust"),
          count(col("o_custkey")).as("n_buyers"),
          sum(coalesce(col("n_orders"), lit(0L))).as("total_orders"))
        .orderBy(col("segment"))
    },
      """WITH c AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey <= 500),
        |o AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey)
        |SELECT COALESCE(c_mktsegment, 'NONE') AS segment,
        |  COUNT(*) AS n_keys,
        |  COUNT(c_custkey) AS n_cust,
        |  COUNT(o_custkey) AS n_buyers,
        |  CAST(SUM(COALESCE(n_orders, 0)) AS BIGINT) AS total_orders
        |FROM c FULL JOIN o ON c_custkey = o_custkey
        |GROUP BY segment ORDER BY segment""".stripMargin),

    // -- slowly-changing-dimension type-2 merge (warehouse upsert): two
    // deterministic customer snapshots (updates: %7 → segment tag + bal+100;
    // deletes: %13 absent from snap2; inserts: %11 re-keyed) merge into
    // effective-dated history rows. Scale shape: ONE full-outer key shuffle
    // of the dimension; both output rows per key (the closed old version and
    // the open current one) are emitted in a SINGLE pass over the join via
    // array_compact+explode — no second scan, no union re-join; the change
    // predicate compares only tracked attributes.
    QuerySpec("q31_scd2_merge", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
      val snap1 = c
      val snap2 = c.filter(col("c_custkey") % 13 =!= 0)
        .select(col("c_custkey"), col("c_name"),
          when(col("c_custkey") % 7 === 0, concat(col("c_mktsegment"), lit("#2")))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"),
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")).as("c_acctbal"))
        .unionAll(c.filter(col("c_custkey") % 11 === 0)
          .select((col("c_custkey") + 10000000L).as("c_custkey"),
            concat(lit("NEW-"), col("c_name")).as("c_name"),
            col("c_mktsegment"), col("c_acctbal")))
      val o = snap1.select(col("c_custkey").as("k"), col("c_name").as("o_name"),
        col("c_mktsegment").as("o_seg"), col("c_acctbal").as("o_bal"))
      val n = snap2.select(col("c_custkey").as("k"), col("c_name").as("n_name"),
        col("c_mktsegment").as("n_seg"), col("c_acctbal").as("n_bal"))
      val d1 = lit("2024-01-01"); val d2 = lit("2024-06-01"); val hi = lit("9999-12-31")
      val j = o.join(n, Seq("k"), "full_outer")
        .withColumn("oe", col("o_name").isNotNull)
        .withColumn("ne", col("n_name").isNotNull)
        .withColumn("chg", col("oe") && col("ne") &&
          (col("o_seg") =!= col("n_seg") || col("o_bal") =!= col("n_bal") ||
            col("o_name") =!= col("n_name")))
      val closed = struct(col("k").as("custkey"), col("o_name").as("name"),
        col("o_seg").as("mktsegment"), col("o_bal").as("acctbal"),
        d1.as("valid_from"), d2.as("valid_to"), lit(false).as("is_current"))
      val current = struct(col("k").as("custkey"), col("n_name").as("name"),
        col("n_seg").as("mktsegment"), col("n_bal").as("acctbal"),
        when(col("oe") && !col("chg"), d1).otherwise(d2).as("valid_from"),
        hi.as("valid_to"), lit(true).as("is_current"))
      j.select(explode(array_compact(array(
          when(col("oe") && (!col("ne") || col("chg")), closed),
          when(col("ne"), current)))).as("r"))
        .select(col("r.*"))
        .orderBy(col("custkey"), col("valid_from"))
    },
      """WITH snap1 AS (
        |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer),
        |snap2 AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_mktsegment || '#2'
        |         ELSE c_mktsegment END AS c_mktsegment,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 13 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, 'NEW-' || c_name, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 11 = 0),
        |j AS (
        |  SELECT o.c_custkey AS ok_, o.c_name AS onm, o.c_mktsegment AS os, o.c_acctbal AS ob,
        |         n.c_custkey AS nk, n.c_name AS nnm, n.c_mktsegment AS ns, n.c_acctbal AS nb
        |  FROM snap1 o FULL JOIN snap2 n ON o.c_custkey = n.c_custkey),
        |x AS (
        |  SELECT *, ok_ IS NOT NULL AS oe, nk IS NOT NULL AS ne,
        |    (ok_ IS NOT NULL AND nk IS NOT NULL
        |     AND (os <> ns OR ob <> nb OR onm <> nnm)) AS chg
        |  FROM j)
        |SELECT * FROM (
        |  SELECT ok_ AS custkey, onm AS name, os AS mktsegment, ob AS acctbal,
        |    '2024-01-01' AS valid_from, '2024-06-01' AS valid_to, FALSE AS is_current
        |  FROM x WHERE oe AND (NOT ne OR chg)
        |  UNION ALL
        |  SELECT nk, nnm, ns, nb,
        |    CASE WHEN oe AND NOT chg THEN '2024-01-01' ELSE '2024-06-01' END,
        |    '9999-12-31', TRUE
        |  FROM x WHERE ne)
        |ORDER BY custkey, valid_from""".stripMargin),

    // -- distribution-window gallery: ntile / percent_rank / cume_dist /
    // nth_value complete the window-function family next to q06 (ranking)
    // and q07 (lag + running frames). All four ride the SAME
    // priority-keyed sort — one exchange, one sort, four functions; the
    // two distribution functions are exact rank ratios (one IEEE division
    // each), so both engines agree bit-for-bit.
    QuerySpec("q32_window_gallery", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .withColumn("cume", round(cume_dist().over(w), 6))
        .withColumn("third_cheapest",
          nth_value(col("o_orderkey"), 3).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          col("rn"), col("quartile"), col("pct_rank"), col("cume"),
          col("third_cheapest"))
        .orderBy(col("o_orderpriority"), col("rn"))
    },
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |  ROUND(CUME_DIST() OVER w, 6) AS cume,
        |  NTH_VALUE(o_orderkey, 3) OVER
        |    (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_cheapest
        |FROM orders WHERE o_orderkey % 10 = 0
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, rn""".stripMargin),

    // -- MULTISET set operations (INTERSECT ALL / EXCEPT ALL) — the
    // bag-semantics completion of q10's distinct set ops: duplicates
    // count, so the result cardinality per key is min(nA,nB) resp.
    // max(0, nA−nB). Spark plans both as hash aggregates + a single
    // count-compare join — no row-pair blowup — and the per-key counts
    // after the op are what the oracle pins.
    QuerySpec("q33_setops_all", (s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_custkey") % 2 === 0).select(col("o_orderpriority"))
      val b = o.filter(col("o_totalprice") > 150000.0).select(col("o_orderpriority"))
      val inter = a.intersectAll(b).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_intersect_all"))
      val except = a.exceptAll(b).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_except_all"))
      inter.join(except, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          coalesce(col("n_intersect_all"), lit(0L)).as("n_intersect_all"),
          coalesce(col("n_except_all"), lit(0L)).as("n_except_all"))
        .orderBy(col("o_orderpriority"))
    },
      """WITH a AS (SELECT o_orderpriority FROM orders WHERE o_custkey % 2 = 0),
        |b AS (SELECT o_orderpriority FROM orders WHERE o_totalprice > 150000.0),
        |i AS (SELECT o_orderpriority, COUNT(*) AS n_intersect_all
        |      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |      GROUP BY o_orderpriority),
        |e AS (SELECT o_orderpriority, COUNT(*) AS n_except_all
        |      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |      GROUP BY o_orderpriority)
        |SELECT COALESCE(i.o_orderpriority, e.o_orderpriority) AS o_orderpriority,
        |  COALESCE(n_intersect_all, 0) AS n_intersect_all,
        |  COALESCE(n_except_all, 0) AS n_except_all
        |FROM i FULL JOIN e ON i.o_orderpriority = e.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // -- JSONL (newline-delimited JSON) SOURCE with nested structs and
    // arrays: read with a PINNED schema (schema inference is a second full
    // pass over the data — never acceptable at 100 TB), reach into the
    // nested object with dot paths, explode the tag array, aggregate.
    // The oracle reads the SAME static fixture file with DuckDB's
    // read_json, so the whole source → nested-access → flatten path is
    // hash-verified.
    QuerySpec("q34_jsonl_scan", (s, _) => {
      val schema = "id BIGINT, ts STRING, type STRING, value DOUBLE, " +
        "meta STRUCT<device: STRING, region: STRING>, tags ARRAY<STRING>"
      s.read.schema(schema).json(jsonlFixture)
        .select(col("meta.region").as("region"), col("type"),
          col("value"), explode(col("tags")).as("tag"))
        .groupBy(col("region"), col("tag"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total_value"))
        .orderBy(col("region"), col("tag"))
    },
      s"""WITH j AS (
         |  SELECT meta.region AS region, type, value, unnest(tags) AS tag
         |  FROM read_json('$jsonlFixture', format = 'newline_delimited')),
         |g AS (
         |  SELECT region, tag, COUNT(*) AS n,
         |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
         |  FROM j GROUP BY region, tag)
         |SELECT region, tag, n, total_value FROM g
         |ORDER BY region, tag""".stripMargin),

    // -- ORC SOURCE round-trip: customer written to ORC (the other major
    // columnar format Spark reads natively — predicate pushdown and column
    // pruning work the same as parquet), read back and aggregated. DuckDB
    // cannot read ORC, so the oracle computes the identical aggregate from
    // the ORIGINAL parquet — matching proves the parquet→ORC→read cycle is
    // lossless, including double round-tripping.
    QuerySpec("q35_orc_roundtrip", (s, dir) =>
      s.read.orc(orcCustomer(s, dir))
        .filter(col("c_acctbal") > 0.0)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sumExact(col("c_acctbal")).as("total_bal"),
          min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"))
        .orderBy(col("c_mktsegment")),
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal,
        |  MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
        |FROM customer WHERE c_acctbal > 0.0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // -- Z-ORDER CLUSTERED SCAN: events rewritten once into a Morton-grid
    // layout on (user_id, ts) — the lakehouse data-skipping pattern for
    // scans that filter on BOTH dimensions. Every file covers a bounded
    // rectangle in (user, time) space, so this box predicate touches
    // O(perimeter) files where a ts-sorted layout scans a full user stripe
    // and a user-sorted layout a full time stripe (PlanAuditSpec measures
    // 4 vs 8 vs 9 of 64 files on this exact predicate; parquet row-group
    // stats enforce the skip at read time, a table-format stats catalog
    // would at 100 TB). The oracle runs the same predicate over the
    // ORIGINAL layout — matching proves the clustering rewrite is
    // lossless.
    QuerySpec("q36_zorder_scan", (s, dir) =>
      s.read.parquet(zorderedEvents(s, dir))
        .filter(col("user_id").between(40, 59) &&
          col("ts") >= lit("2024-01-10").cast("timestamp") &&
          col("ts") < lit("2024-01-13").cast("timestamp"))
        .agg(count(lit(1)).as("n"),
          sumExact(col("value")).as("total_value"),
          min(col("event_id")).as("min_event"),
          max(col("event_id")).as("max_event"),
          countDistinct(col("user_id")).as("n_users")),
      // same box predicate over the ORIGINAL events layout — equality proves
      // the z-order rewrite lost nothing
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        |  MIN(event_id) AS min_event, MAX(event_id) AS max_event,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE user_id BETWEEN 40 AND 59
        |  AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-13'""".stripMargin),

    // -- SMALL-FILE COMPACTION (the lakehouse OPTIMIZE / bin-packing
    // rewrite): a store fragmented into 256 tiny files — the classic
    // streaming-ingest failure mode; at 100 TB each open file costs a
    // task, a footer read and a NameNode/manifest entry — is rewritten in
    // one pass into 4 right-sized ts-range files (range partitioning keeps
    // a useful clustering; `maxRecordsPerFile` caps file size). The query
    // answers from the COMPACTED store; the oracle computes the same
    // aggregate from the original table, so the rewrite is pinned
    // lossless. PlanAuditSpec asserts the 256 → 4 file-count collapse.
    QuerySpec("q37_compaction", (s, dir) =>
      s.read.parquet(compactedEvents(s, dir))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sumExact(col("value")).as("total_value"),
          min(col("event_id")).as("min_event"),
          max(col("event_id")).as("max_event"))
        .orderBy(col("event_type")),
      // same aggregate over the ORIGINAL table — equality proves the
      // fragment → compact rewrite cycle lost nothing
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        |  MIN(event_id) AS min_event, MAX(event_id) AS max_event
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // -- SCHEMA EVOLUTION across parquet generations (the long-lived-table
    // reality: columns get added and retired, old files are never
    // rewritten): a store whose gen=1 files carry (key, cust, totalprice)
    // and gen=2 files (key, cust, orderstatus, orderpriority) is read as
    // ONE table via mergeSchema — absent columns surface as NULLs, the
    // partition column identifies the generation. At 100 TB the merged
    // read costs one footer-schema union at planning time; data files are
    // untouched (the alternative — rewriting history on every schema
    // change — is a full-table write). The aggregate exercises both
    // directions of absence (legacy rows lack status, new rows lack
    // price); the oracle replays the generation split as a UNION-BY-NAME
    // over the original table, so a merge slip (column misalignment, a
    // dropped generation, wrong NULLing) flips counts or sums red.
    QuerySpec("q42_schema_evolution", (s, dir) =>
      s.read.option("mergeSchema", "true").parquet(evolvedOrders(s, dir))
        .groupBy(col("gen"), coalesce(col("o_orderstatus"), lit("<legacy>"))
          .as("status"))
        .agg(count(lit(1)).as("n"),
          count(col("o_totalprice")).as("n_priced"),
          sumExact(coalesce(col("o_totalprice"), lit(0.0))).as("total_price"),
          count(col("o_orderpriority")).as("n_prioritized"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("gen"), col("status")),
      // the generation split replayed as UNION BY NAME over the original
      // table — a merge slip (misaligned columns, wrong NULLing, a dropped
      // generation) cannot reproduce these counts and sums
      """WITH g1 AS (
        |  SELECT 1 AS gen, o_orderkey, o_custkey, o_totalprice,
        |    NULL::VARCHAR AS o_orderstatus, NULL::VARCHAR AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |g2 AS (
        |  SELECT 2 AS gen, o_orderkey, o_custkey, NULL::DOUBLE AS o_totalprice,
        |    o_orderstatus, o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 1),
        |u AS (SELECT * FROM g1 UNION ALL BY NAME SELECT * FROM g2)
        |SELECT gen, COALESCE(o_orderstatus, '<legacy>') AS status,
        |  COUNT(*) AS n, COUNT(o_totalprice) AS n_priced,
        |  CAST(SUM(CAST(COALESCE(o_totalprice, 0.0) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total_price,
        |  COUNT(o_orderpriority) AS n_prioritized,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM u GROUP BY gen, status ORDER BY gen, status""".stripMargin),

    // -- FUZZY JOIN / record linkage (entity resolution without a shared
    // key): probe strings — every 10th part name with one deterministically
    // chosen character deleted — are matched back to the dimension at edit
    // distance ≤ 1. The naive form is an O(n·m) cross join with a
    // levenshtein per pair. Rounds 2–13 used DUAL-BLOCKING (union of
    // equi-joins on prefix3 and suffix3): provably complete, but its cost
    // is Θ(Σ_blocks |B_p|·|B_q|) — the name distribution has only ~8
    // 3-char prefixes per rotation class, so at the 128× rung each block
    // held ~12.9k parts × ~1.3k probes and the sort-merge join streamed
    // ~7·10⁹ candidate pairs through the length gate: the board's slowest
    // stress query (232 s, 13.3 GB spill) and the one query whose buffers
    // were ANTI-responsive to every shuffle lever (SWEEP13 regime A/B).
    //
    // Replaced with a two-level plan: (1) DISTINCT-KEY PROJECTION — the
    // corpus carries massive name multiplicity (sf0.1: 20 k parts over
    // ~64 distinct names; 128×: 2.56 M over 1,664 — and Σ|block|² over
    // ANY id-level blocking key is therefore ~4·10⁹ pairs at 128×, which
    // is why every id-level scheme, dual-blocking included, hit a
    // quadratic wall), so the fuzzy match runs over DISTINCT name strings
    // only: ≤ a few thousand rows however large the fact side grows.
    // (2) DELETION-NEIGHBORHOOD blocking on that projection (FastSS —
    // Bocek et al. 2007, "Fast Similarity Search in Large Dictionaries";
    // the SymSpell family): key each distinct string by itself plus its
    // len one-character-deletion variants. Completeness for dist ≤ 1:
    // equal strings share the string itself; b = a minus one char means b
    // is in a's variant set (and is its own 0-deletion key); substitution
    // at position p means deleting p from BOTH sides yields the same
    // string. Collisions sit at distance ≤ 2 and die in the thresholded
    // levenshtein — Spark's 3-arg form abandons a pair once its running
    // distance exceeds 1 (O(len·k) band, not the O(len²) table) and
    // returns −1, dropped by dist ≥ 0; survivors carry exact distances.
    // (3) MULTIPLICITY FAN-BACK: qualifying (q_name, p_name, dist) pairs
    // joined back onto the id tables as two equi-joins. No id-level
    // distinct is needed — ids map 1:1 to names, name pairs are already
    // distinct — so the only volume the engine touches beyond two
    // column-pruned scans is the OUTPUT itself (inherently large here:
    // every probe matches its name's whole duplicate class). The fan-back
    // broadcast is ADAPTIVE, not forced (r15, closing the r14 ADVICE
    // item): namePairs is tiny when names repeat (this corpus) but
    // approaches ROW COUNT in the near-unique-key regime, where an
    // unconditional broadcast() would OOM the driver. namePairs is
    // eagerly checkpointed (one materialization serves the size probe
    // AND the join build) and the broadcast hint applied only when its
    // EXACT materialized row count fits comfortably (≤ 2M pairs of short
    // strings); past that the plan is the plain deletion-neighborhood
    // shuffle join — still output-shaped, never block-quadratic. The
    // driver-side count replaces trusting AQE's estimate of a
    // twice-joined, exploded, filtered subplan — the one frame in this
    // query whose size estimate is structurally unreliable in both
    // directions. The levenshtein count is bounded
    // by DISTINCT-pair candidates in both regimes. The oracle
    // computes the UNBLOCKED cross-join answer, so a completeness hole in
    // the blocking (or a lost/duplicated multiplicity in the fan-back)
    // flips the hash red.
    QuerySpec("q38_fuzzy_join", (s, dir) => {
      val parts = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val probes = parts.filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey").as("q_id"),
          expr("""concat(substring(p_name, 1, CAST(p_partkey % length(p_name) AS INT)),
                 |       substring(p_name, CAST(p_partkey % length(p_name) AS INT) + 2))"""
            .stripMargin).as("q_name"))
      // {s} ∪ {s minus char i | i = 1..len}, deduped (repeated chars
      // yield repeated variants — array_distinct trims the fan-out)
      def delKeys(name: Column): Column = array_distinct(concat(
        array(name),
        transform(sequence(lit(1), length(name)), i =>
          concat(name.substr(lit(1), i - lit(1)),
            name.substr(i + lit(1), length(name) - i)))))
      val pK = parts.select(col("p_name")).distinct()
        .select(col("p_name"), explode(delKeys(col("p_name"))).as("dk"))
      val qK = probes.select(col("q_name")).distinct()
        .select(col("q_name"), explode(delKeys(col("q_name"))).as("dk"))
      val namePairs = qK.join(pK, "dk")
        .select(col("q_name"), col("p_name"))
        .distinct() // ≤13-way shared-variant multiplicity, tiny frame
        .withColumn("dist",
          levenshtein(col("q_name"), col("p_name"), 1).cast("long"))
        .filter(col("dist") >= 0)
        .transform(Barriers.eager)
      val nPairs = namePairs.count()
      val fanBack =
        if (nPairs <= 2000000L) broadcast(namePairs) else namePairs
      val joined = probes.join(fanBack, Seq("q_name"))
        .join(parts, Seq("p_name"))
        .select(col("q_id"), col("q_name"), col("p_partkey"), col("p_name"),
          col("dist"))
      // SCALE-SAFE OUTPUT ORDER (r15 verdict item 3): the compute above is
      // output-shaped, but a bare orderBy let AQE coalesce the final range
      // exchange into few huge partitions whose sorts spilled 70 GB at the
      // 512× rung — the project's largest recorded spill, in a PRESENTATION
      // step. Total order is kept (range partitioning + in-partition sort
      // IS orderBy's decomposition; partition i precedes partition j), but
      // the partition count is derived from an output-size estimate —
      // pairs × mean name-multiplicity, both already paid for (nPairs is
      // the materialized fan-back gate; the stats pass is one cheap
      // column scan) — targeting ~1M rows (≈100 MB) per sort, so each
      // in-memory sort stays spill-free at any output volume. At oracle
      // scale the estimate floors to the session shuffle count and the
      // plan is byte-equivalent to the old orderBy.
      val st = parts.agg(count(lit(1)).as("n"),
        approx_count_distinct(col("p_name")).as("d")).collect()(0)
      val outEst = nPairs * (st.getLong(0) / math.max(1L, st.getLong(1)))
      val nOut = math.max(s.sessionState.conf.numShufflePartitions,
        math.min(4096L, outEst / 1000000L + 1L).toInt)
      joined.repartitionByRange(nOut, col("q_id"), col("p_partkey"))
        .sortWithinPartitions(col("q_id"), col("p_partkey"))
    },
      // the UNBLOCKED ground truth: same probes, but candidates from a full
      // cross join — if the engine's distinct-name deletion-neighborhood
      // blocking (or its multiplicity fan-back) missed or duplicated any
      // qualifying pair, this hash cannot match
      """WITH probes AS (
        |  SELECT p_partkey AS q_id,
        |    substring(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
        |      || substring(p_name, CAST(p_partkey % length(p_name) AS INT) + 2)
        |      AS q_name
        |  FROM part WHERE p_partkey % 10 = 0)
        |SELECT q_id, q_name, p_partkey, p_name,
        |  CAST(levenshtein(q_name, p_name) AS BIGINT) AS dist
        |FROM probes, part
        |WHERE levenshtein(q_name, p_name) <= 1
        |ORDER BY q_id, p_partkey""".stripMargin),

    // -- DYNAMIC PARTITION PRUNING (star-schema scan elimination at
    // runtime): the fact side is a HIVE-PARTITIONED lineitem store (one
    // directory per ship month — the layout every date-partitioned lake
    // table uses) joined to a dimension whose qualifying months are only
    // known AFTER its filter runs. Static pruning can't help (the pushed
    // predicate is on the DIM), so Catalyst injects the dim's build-side
    // values as a `dynamicpruningexpression` partition filter on the fact
    // scan: at 100 TB the fact reads 3 of 83 month directories instead of
    // the whole table — the single biggest scan saver in star joins, and
    // it composes with the broadcast join (the pruning subquery REUSES the
    // join's broadcast, costing nothing extra). PlanAuditSpec pins the
    // plan shape so the feature can't silently regress; the oracle
    // computes the same join over the raw table, pinning the partitioned
    // rewrite lossless.
    QuerySpec("q39_dynamic_partition_pruning", (s, dir) => {
      val months = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(to_date(date_trunc("month", col("o_orderdate"))).as("mon"))
        .distinct()
      s.read.parquet(monthPartitionedLineitem(s, dir))
        .join(broadcast(months), col("ship_mon") === col("mon"))
        .groupBy(col("mon"))
        .agg(count(lit(1)).as("n"),
          sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy(col("mon"))
    },
      // the same star join over the RAW table — equality pins the
      // month-partitioned rewrite lossless
      """WITH m AS (
        |  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-04-01')
        |SELECT m.mon, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN m ON CAST(date_trunc('month', l.l_shipdate) AS DATE) = m.mon
        |GROUP BY m.mon ORDER BY m.mon""".stripMargin),

    // RUNTIME BLOOM-FILTER pushdown (Spark's InjectRuntimeFilter) — q39
    // prunes PARTITIONS a filtered dim can't reach; this prunes ROWS: in a
    // fact-fact shuffle join where one side carries a selective predicate,
    // Catalyst builds a bloom filter from the filtered side's join keys
    // and applies `might_contain` BELOW the other side's Exchange, so
    // non-qualifying rows die before they are hashed, serialized and
    // shuffled — at 100 TB that is the difference between shuffling 2%
    // and 100% of lineitem. The query runs on a CHILD SESSION
    // (`newSession`: same SparkContext + data, isolated SQLConf) so the
    // conf that stages the demonstration — broadcast off to force the
    // shuffle join, the application-side size floor dropped to admit the
    // test-scale table — never leaks into other registered queries'
    // plans. PlanAuditSpec asserts `might_contain` on THIS registered
    // query; the oracle checks the filter is semantically invisible.
    QuerySpec("q40_bloom_filter_join", (s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      t(s2, dir, "lineitem")
        .join(t(s2, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sumExact(col("l_quantity")).as("sum_qty"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },
      // the bloom filter must be semantically invisible: plain join + agg
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // PARQUET AGGREGATE PUSHDOWN — the scan eliminator for metadata-shaped
    // queries: COUNT/MIN/MAX over a parquet table are already materialized
    // in every row-group footer, so the DSv2 scan answers them from
    // statistics without decoding a single data page — at 100 TB, a
    // full-table MIN/MAX/COUNT becomes a footer walk (thousands of ~8 KB
    // reads) instead of a 100 TB scan. Spark gates this behind the V2
    // parquet path + `parquet.aggregatePushdown`; both are staged on a
    // child session (q40's isolation discipline). No filters, no
    // grouping — exactly the shape the footer stats can answer (a WHERE
    // or GROUP BY would fall back to a normal scan, which is why this
    // query has neither), and numeric/integral columns only: one
    // timestamp MIN/MAX in the list disables pushdown for the WHOLE
    // aggregate (observed: `PushedAggregation: []`), so the shipdate
    // bounds live in other queries. PlanAuditSpec asserts
    // `PushedAggregation` in the scan; the oracle pins the numbers.
    QuerySpec("q41_agg_pushdown", (s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.useV1SourceList", "")
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      s2.read.parquet(s"$dir/lineitem.parquet")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"))
    },
      // footer statistics must agree with the data they summarize
      """SELECT COUNT(*) AS n_rows,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
        |FROM lineitem""".stripMargin)
  )

  /** Static JSONL fixture — absolute so the DuckDB oracle reads the same
    * file (mirrors GasStoreQueries.fixtureDir). Lazy: `specs`, above,
    * reads it while the object initialises. */
  private lazy val jsonlFixture: String =
    sys.props.getOrElse("graft.jsonl.fixture",
      "/root/repo/src/test/resources/events_sample.jsonl")

  /** ORC twin of the customer table, memoized per (session, dir) by
    * [[graft.util.TempDirs.perSession]]. */
  private def orcCustomer(s: SparkSession, dir: String): String =
    graft.util.TempDirs.perSession(s, s"orc:$dir") { work =>
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .write.mode("overwrite").orc(s"$work/customer")
      s"$work/customer"
    }

  /** Two-generation orders store for q42: gen=1 files carry the LEGACY
    * column set (key, cust, totalprice), gen=2 the EVOLVED one (key, cust,
    * orderstatus, orderpriority) — written as separate parquet writes
    * under one partitioned root, memoized per (session, dir). */
  private def evolvedOrders(s: SparkSession, dir: String): String =
    graft.util.TempDirs.perSession(s, s"evolve:$dir") { work =>
      val o = t(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$work/store/gen=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$work/store/gen=2")
      s"$work/store"
    }

  /** Hive-partitioned (by ship month) copy of lineitem, memoized per
    * (session, dir). Package-private so PlanAuditSpec can audit the DPP
    * plan over the exact store the registered query reads. */
  private[graft] def monthPartitionedLineitem(s: SparkSession, dir: String): String =
    graft.util.TempDirs.perSession(s, s"monthpart:$dir") { work =>
      t(s, dir, "lineitem")
        .withColumn("ship_mon", to_date(date_trunc("month", col("l_shipdate"))))
        .write.mode("overwrite").partitionBy("ship_mon")
        .parquet(s"$work/lineitem")
      s"$work/lineitem"
    }

  /** Z-order clustered copy of events on (user_id, ts), memoized per
    * (session, dir) by [[graft.util.TempDirs.perSession]].
    * Package-private so PlanAuditSpec can measure file skipping on the
    * exact layout the registered query reads. */
  private[graft] def zorderedEvents(s: SparkSession, dir: String): String =
    graft.util.TempDirs.perSession(s, s"zorder:$dir") { work =>
      graft.store.ZOrderStore.write(
        t(s, dir, "events"), "user_id", "ts", s"$work/events", cellBits = 6)
      s"$work/events"
    }

  /** Fragmented (256 tiny files) and compacted (4 ts-range files) copies
    * of events, memoized per (session, dir). Returns the compacted path;
    * [[fragmentedEventsDir]] exposes the fragmented one for the file-count
    * audit. */
  private def compactedPair(s: SparkSession, dir: String): (String, String) =
    graft.util.TempDirs.perSession(s, s"compact:$dir") { work =>
      val ev = t(s, dir, "events")
      // the "before": streaming-ingest fragmentation, 256 tiny files
      ev.repartition(256).write.mode("overwrite").parquet(s"$work/frag")
      // the compaction rewrite: ONE pass, range-clustered on ts
      s.read.parquet(s"$work/frag")
        .repartitionByRange(4, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 500000)
        .parquet(s"$work/compact")
      (s"$work/frag", s"$work/compact")
    }
  private[graft] def fragmentedEventsDir(s: SparkSession, dir: String): String =
    compactedPair(s, dir)._1
  private[graft] def compactedEvents(s: SparkSession, dir: String): String =
    compactedPair(s, dir)._2
}
