package graft

/** graft_simhash must equal the dataflow formulation
  * `split(trim(lower(text)), '\s+')` → distinct → md5 → bit majority for
  * EVERY input — including text edged with tabs/newlines, where Java's
  * String.trim (all chars <= 0x20) and limit-0 split (drops trailing
  * empties) would silently diverge from SQL trim (spaces only) and Spark's
  * limit=-1 split. The expected side below is computed entirely by Spark's
  * own SQL functions, independent of the expression's Java loop.
  */
class SimHashSpec extends SparkSpec {
  import spark.implicits._

  test("signature equals the SQL dataflow for whitespace edge cases") {
    Seq(
      (1L, "\tfoo\n bar baz\n\n"), // tab/newline edges → "" token survives trim
      (2L, "  foo  "),             // space edges → no "" token
      (3L, ""),                    // empty input → [""] single token
      (4L, " \t "),                // spaces trim to a bare tab
      (5L, "tab\tsep mixedws"),
      (6L, "The  quick   brown fox"))
      .toDF("id", "text").createOrReplaceTempView("simhash_probe")

    val got = spark.sql(
      "SELECT id, graft_simhash(text) AS s FROM simhash_probe ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val exp = spark.sql(
      """WITH toks AS (
        |  SELECT id, explode(array_distinct(split(trim(lower(text)), '\\s+'))) AS tok
        |  FROM simhash_probe),
        |h AS (SELECT id, md5(cast(tok AS binary)) AS h FROM toks),
        |bits AS (
        |  SELECT id, i,
        |    shiftright(instr('0123456789abcdef', substring(h, 1 + (i div 4), 1)) - 1,
        |      3 - cast(i % 4 AS int)) & 1 AS bitv
        |  FROM h LATERAL VIEW explode(sequence(0, 63)) t AS i),
        |sb AS (SELECT id, i, CASE WHEN SUM(2 * bitv - 1) > 0 THEN 1 ELSE 0 END AS sbit
        |       FROM bits GROUP BY id, i),
        |nib AS (
        |  SELECT id, i div 4 AS ni,
        |    substring('0123456789abcdef',
        |      cast(SUM(shiftleft(sbit, 3 - cast(i % 4 AS int))) AS int) + 1, 1) AS ch
        |  FROM sb GROUP BY id, i div 4)
        |SELECT id,
        |  concat_ws('', transform(array_sort(collect_list(struct(ni, ch))), x -> x.ch)) AS s
        |FROM nib GROUP BY id ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    assert(got == exp)
  }
}
