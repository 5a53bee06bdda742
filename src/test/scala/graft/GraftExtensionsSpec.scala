package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.{GraftExtensions, VectorFunctions}

/** The session-extension entry point must inject cleanly and the same
  * builders must resolve through SQL (full end-to-end injection needs a
  * fresh SparkContext, which the shared test session precludes — the
  * registry path is exercised via VectorFunctions.ensure instead). */
class GraftExtensionsSpec extends SparkSpec {

  test("extension point injects without error") {
    new GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("injected builders evaluate from SQL text") {
    VectorFunctions.ensure(spark)
    val row = spark.sql(
      """SELECT graft_dot(array(1D, 2D, 3D), array(4D, 5D, 6D)) AS d,
        |       graft_hsig(array_repeat(1D, 64)) AS s""".stripMargin).first()
    assert(row.getDouble(0) == 32.0)
    // signature is deterministic: recompute plane sign bits in-test
    val expected = (0 until 16).map { i =>
      val acc = (0 until 64).map(j =>
        1.0 * ((73856093L * (i + 1) * (j + 7)) % 2001L - 1000L)).sum
      if (acc >= 0) 1 << i else 0
    }.sum
    assert(row.getInt(1) == expected)
  }

  test("kernels follow the HOF on malformed input: length mismatch / null slot -> NULL") {
    VectorFunctions.ensure(spark)
    // the HOF forms the kernels claim identity with
    def hofDot(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    def hofL2(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"

    // dense equal-length: kernel == HOF, non-null
    val ok = spark.sql(
      s"""SELECT graft_dot(array(1D,2D,3D), array(4D,5D,6D)) AS kd,
         |       ${hofDot("array(1D,2D,3D)", "array(4D,5D,6D)")} AS hd,
         |       graft_l2(array(1D,2D,3D), array(4D,5D,6D)) AS kl,
         |       ${hofL2("array(1D,2D,3D)", "array(4D,5D,6D)")} AS hl""".stripMargin)
      .first()
    assert(ok.getDouble(0) == ok.getDouble(1) && ok.getDouble(2) == ok.getDouble(3))

    // length mismatch: HOF nulls the fold (zip_with pads with null) — the
    // kernels must agree, not silently truncate
    val mis = spark.sql(
      s"""SELECT graft_dot(array(1D,2D), array(1D)) AS kd,
         |       ${hofDot("array(1D,2D)", "array(1D)")} AS hd,
         |       graft_l2(array(1D,2D), array(1D)) AS kl,
         |       ${hofL2("array(1D,2D)", "array(1D)")} AS hl""".stripMargin).first()
    assert(mis.isNullAt(0) && mis.isNullAt(1) && mis.isNullAt(2) && mis.isNullAt(3))

    // null slot (containsNull=true input): NULL, not a garbage 0.0 read
    val slot = spark.sql(
      s"""SELECT graft_dot(array(1D, CAST(NULL AS DOUBLE)), array(1D,2D)) AS kd,
         |       ${hofDot("array(1D, CAST(NULL AS DOUBLE))", "array(1D,2D)")} AS hd,
         |       graft_l2(array(1D, CAST(NULL AS DOUBLE)), array(1D,2D)) AS kl,
         |       ${hofL2("array(1D, CAST(NULL AS DOUBLE))", "array(1D,2D)")} AS hl"""
        .stripMargin).first()
    assert(slot.isNullAt(0) && slot.isNullAt(1) && slot.isNullAt(2) && slot.isNullAt(3))
  }

  test("plane-count arg widens the signature to long and extends the family") {
    VectorFunctions.ensure(spark)
    val row = spark.sql(
      "SELECT graft_hsig(array_repeat(1D, 64), 60) AS s").first()
    val expected = (0 until 60).map { i =>
      val acc = (0 until 64).map(j =>
        1.0 * ((73856093L * (i + 1) * (j + 7)) % 2001L - 1000L)).sum
      if (acc >= 0) 1L << i else 0L
    }.sum
    assert(row.getLong(0) == expected)
    // the low 16 planes are the same family: default sig == low bits
    val both = spark.sql(
      """SELECT graft_hsig(array_repeat(1D, 64)) AS s16,
        |       graft_hsig(array_repeat(1D, 64), 60) & 65535 AS lo""".stripMargin).first()
    assert(both.getInt(0).toLong == both.getLong(1))
  }

  test("graft_cos_argmax agrees with the max-struct aggregate it replaces") {
    VectorFunctions.ensure(spark)
    import org.apache.spark.sql.functions._
    // 40 vectors x 7 centroids, deterministic values with engineered ties
    // (centroids 5 and 6 are identical -> equal csim, tie must go to the
    // LOWEST cid, exactly max(struct(csim, -cid)))
    val e = spark.range(40).selectExpr("id AS vec_id",
      "transform(sequence(0, 7), j -> cast((id * 7 + j * 3) % 11 - 5 as double)) AS emb")
      .withColumn("norm", expr("sqrt(aggregate(emb, 0D, (a, x) -> a + x * x))"))
      .filter(col("norm") > 0)
    val cent = spark.range(7).selectExpr("id AS cid",
      // centroid 6 repeats centroid 5's pattern -> engineered tie
      "transform(sequence(0, 7), j -> cast((least(id, 6L) * 5 + j) % 7 - 3 as double)) AS cvec")
      .withColumn("cvec", expr("CASE WHEN cid = 6 THEN transform(sequence(0, 7)," +
        " j -> cast((5 * 5 + j) % 7 - 3 as double)) ELSE cvec END"))
      .withColumn("cnorm", expr("sqrt(aggregate(cvec, 0D, (a, x) -> a + x * x))"))
    val agg = e.crossJoin(broadcast(cent))
      .withColumn("csim",
        round(expr("graft_dot(emb, cvec)") / (col("norm") * col("cnorm")), 6))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("csim"), (-col("cid")).as("negc"))).as("best"))
      .select(col("vec_id"), (-col("best.negc")).as("cid"),
        col("best.csim").as("csim"))
    val centsArr = cent.agg(array_sort(collect_list(struct(
      col("cid").cast("long").as("cid"), col("cvec"), col("cnorm"))))
      .as("cents"))
    val kernel = e.crossJoin(broadcast(centsArr))
      .withColumn("best", expr("graft_cos_argmax(emb, norm, cents)"))
      .select(col("vec_id"), col("best.cid").as("cid"),
        col("best.csim").as("csim"))
    assert(kernel.except(agg).isEmpty && agg.except(kernel).isEmpty)
    // explicit tie: two IDENTICAL centroids -> every vector ties on csim
    // and must take the LOWEST cid (the max(struct(csim, -cid)) contract)
    val twin = spark.range(2).selectExpr("id AS cid")
      .withColumn("cvec", expr("array(1D, 2D, 3D)"))
      .withColumn("cnorm", expr("sqrt(14D)"))
    val twinArr = twin.agg(array_sort(collect_list(struct(
      col("cid").cast("long").as("cid"), col("cvec"), col("cnorm"))))
      .as("cents"))
    val tiePick = spark.sql("SELECT array(3D, 1D, 2D) AS emb, sqrt(14D) AS norm")
      .crossJoin(broadcast(twinArr))
      .selectExpr("graft_cos_argmax(emb, norm, cents).cid AS cid").first()
    assert(tiePick.getLong(0) == 0L, s"tie must pick lowest cid, got $tiePick")
    // malformed input follows the kernels' discipline: NULL, loudly absent
    val bad = spark.sql(
      """SELECT graft_cos_argmax(array(1D, 2D), 1D,
        |  array(struct(CAST(0 AS BIGINT) AS cid, array(1D) AS cvec, 1D AS cnorm))) AS mis,
        |       graft_cos_argmax(array(1D, 2D), 1D,
        |  CAST(array() AS array<struct<cid: bigint, cvec: array<double>, cnorm: double>>)) AS empty""".stripMargin)
      .first()
    assert(bad.isNullAt(0) && bad.isNullAt(1))
  }
}
