package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Driver-divergence bisect canaries (round-9 verdict item 5).
  *
  * Three rounds in a row produced local-green/driver-red cells whose cause
  * (DuckDB version drift in round 8, HUGEINT sum typing in round 9) had to
  * be reverse-engineered from the failure *pattern* because the driver
  * reports only per-query pass/fail. These eight queries make that
  * reverse-engineering a table lookup: each isolates exactly ONE
  * cross-engine-risky construct over the 25-row `nation` table, so the
  * subset of red canaries in a future `CORRECTNESS_r{N}.json` names the
  * divergent construct directly (decode table in PLANS.md "canary decode").
  *
  * Every canary is written in the repo's proven-green discipline (typed
  * sums, 6-dp rounds of IEEE quotients off the half-way lattice, q17-form
  * regexp) — red here means the DRIVER's DuckDB moved, not that the canary
  * is wrong. Cost is negligible: eight 25-row scans.
  */
object Canary {

  private def nat(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "nation")

  val specs: Seq[QuerySpec] = Seq(

    // construct: integer SUM result typing (DuckDB SUM(INT) → HUGEINT
    // unless cast — the round-9 five-red class)
    QuerySpec("cn01_typed_sum", (s, dir) =>
      nat(s, dir)
        .groupBy(col("n_regionkey").cast("long").as("key"))
        .agg(sum(col("n_nationkey")).as("s"), count(lit(1)).as("n"))
        .orderBy(col("key")),
      """SELECT CAST(n_regionkey AS BIGINT) AS key,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS s, COUNT(*) AS n
        |FROM nation GROUP BY 1 ORDER BY key""".stripMargin),

    // construct: ROUND(DOUBLE, 6) on an IEEE quotient; n/7 in lowest
    // terms can never sit on a 6-dp half-way point (denominator 7 is not
    // dyadic — the PLANS.md round-on-quotient theorem), so divergence
    // here means the driver's ROUND semantics changed, not the lattice
    QuerySpec("cn02_round_double", (s, dir) =>
      nat(s, dir)
        .select(col("n_nationkey").cast("long").as("key"),
          round(col("n_nationkey").cast("double") / 7.0, 6).as("r"))
        .orderBy(col("key")),
      """SELECT CAST(n_nationkey AS BIGINT) AS key,
        |  ROUND(CAST(n_nationkey AS DOUBLE) / 7.0, 6) AS r
        |FROM nation ORDER BY key""".stripMargin),

    // construct: libm natural log (Spark log == ln; DuckDB ln — its log
    // is BASE-10, the classic trap) + the 6-dp round discipline
    QuerySpec("cn03_ln", (s, dir) =>
      nat(s, dir)
        .select(col("n_nationkey").cast("long").as("key"),
          round(log((col("n_nationkey") + 1).cast("double")), 6).as("lnv"))
        .orderBy(col("key")),
      """SELECT CAST(n_nationkey AS BIGINT) AS key,
        |  ROUND(ln(CAST(n_nationkey + 1 AS DOUBLE)), 6) AS lnv
        |FROM nation ORDER BY key""".stripMargin),

    // construct: regexp_extract with \d class (q17/q45's proven form —
    // Java regex vs DuckDB RE2 agree on ASCII classes today)
    QuerySpec("cn04_regexp", (s, dir) =>
      nat(s, dir)
        .select(col("n_nationkey").cast("long").as("key"),
          regexp_extract(
            concat(col("n_name"), lit(" #"), col("n_nationkey")),
            """#(\d+)""", 1).cast("long").as("k"))
        .orderBy(col("key")),
      """SELECT CAST(n_nationkey AS BIGINT) AS key,
        |  CAST(regexp_extract(
        |    n_name || ' #' || CAST(n_nationkey AS VARCHAR),
        |    '#(\d+)', 1) AS BIGINT) AS k
        |FROM nation ORDER BY key""".stripMargin),

    // construct: in-aggregate ORDER BY (string_agg ... ORDER BY) — green
    // on the driver since gs21/round 8, but the one denylist exemption
    // we still rely on; Spark side is the deterministic sort_array twin
    QuerySpec("cn05_agg_orderby", (s, dir) =>
      nat(s, dir)
        .groupBy(col("n_regionkey").cast("long").as("key"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("names"))
        .orderBy(col("key")),
      """SELECT CAST(n_regionkey AS BIGINT) AS key,
        |  string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY 1 ORDER BY key""".stripMargin),

    // construct: DECIMAL(18,6) sum widening (Spark → DECIMAL(28,6),
    // DuckDB → DECIMAL(38,6)) pinned back through a DOUBLE cast — the
    // money-sum discipline every revenue query uses
    QuerySpec("cn06_decimal_sum", (s, dir) =>
      nat(s, dir)
        .groupBy(col("n_regionkey").cast("long").as("key"))
        .agg(sum(col("n_nationkey").cast("decimal(18,6)")).cast("double")
          .as("s_dec"))
        .orderBy(col("key")),
      """SELECT CAST(n_regionkey AS BIGINT) AS key,
        |  CAST(SUM(CAST(n_nationkey AS DECIMAL(18,6))) AS DOUBLE) AS s_dec
        |FROM nation GROUP BY 1 ORDER BY key""".stripMargin),

    // construct: DATE + integer arithmetic and the ISO weekday mapping
    // (Spark weekday() 0=Monday ≡ DuckDB isodow()−1; DuckDB DATE+BIGINT
    // errors, so the oracle casts the offset to INTEGER)
    QuerySpec("cn07_date_arith", (s, dir) =>
      nat(s, dir)
        .select(col("n_nationkey").cast("long").as("key"),
          date_add(to_date(lit("1996-01-01")), col("n_nationkey")).as("d"))
        .withColumn("dow", expr("weekday(d)").cast("long"))
        .orderBy(col("key")),
      """SELECT CAST(n_nationkey AS BIGINT) AS key,
        |  DATE '1996-01-01' + CAST(n_nationkey AS INTEGER) AS d,
        |  CAST(isodow(DATE '1996-01-01'
        |    + CAST(n_nationkey AS INTEGER)) - 1 AS BIGINT) AS dow
        |FROM nation ORDER BY key""".stripMargin),

    // construct: integer division on positive operands (Spark `div`
    // truncates, DuckDB `//` floors; positive dividends make them equal
    // — the halfUpMean6 kernel's load-bearing precondition)
    QuerySpec("cn08_intdiv", (s, dir) =>
      nat(s, dir)
        .select(col("n_nationkey").cast("long").as("key"),
          expr("(n_nationkey * 10 + 3) div 7").cast("long").as("q"))
        .orderBy(col("key")),
      """SELECT CAST(n_nationkey AS BIGINT) AS key,
        |  CAST((n_nationkey * 10 + 3) // 7 AS BIGINT) AS q
        |FROM nation ORDER BY key""".stripMargin),

    // construct: non-dyadic DECIMAL literal promoted through DOUBLE
    // arithmetic (the ts66 Benford-constant pattern: both engines parse
    // 0.301029995663981 as a decimal and promote it to the same double
    // when it meets a DOUBLE operand — red here means the driver's
    // literal typing or promotion moved)
    QuerySpec("cn09_decimal_literal", (s, dir) =>
      nat(s, dir)
        .select(col("n_nationkey").cast("long").as("key"),
          round(expr("cast(n_nationkey + 1 as double)" +
            " * 0.301029995663981"), 6).as("v"))
        .orderBy(col("key")),
      """SELECT CAST(n_nationkey AS BIGINT) AS key,
        |  ROUND(CAST(n_nationkey + 1 AS DOUBLE) * 0.301029995663981, 6)
        |    AS v
        |FROM nation ORDER BY key""".stripMargin)
  )
}
