package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** tx19 sequence packing + tx20 stratified sampling (SURVEY.md §2).
  *
  * tx19's running token offset is a TWO-LEVEL prefix sum (bucket subtotals
  * + broadcast bases) precisely so no corpus-sized frame ever passes
  * through a single-partition global window. These tests pin:
  *  1. the two-level offsets equal the naive global-window prefix sum;
  *  2. packing invariants: offsets are contiguous (offset[i+1] =
  *     offset[i] + n_tok[i]), seq ids are monotone, and crosses_seq is
  *     consistent with seq_first/seq_last;
  *  3. the physical plan's only unpartitioned window runs over the
  *     bucket-subtotal frame, never the document frame;
  *  4. tx20 keeps exactly the md5-threshold rows and nothing else.
  */
class PackingSpec extends SparkSpec {

  private lazy val packed =
    SparkEntry.queries("tx19_pack_sequences")(spark, sf).collect()

  test("tx19 two-level prefix sum equals the naive global running sum") {
    val naive = graft.sources.Tables.table(spark, sf, "documents")
      .selectExpr("doc_id",
        raw"cast(size(split(trim(lower(text)), '\\s+')) as bigint) AS n_tok")
      .withColumn("tok_offset",
        coalesce(sum(col("n_tok")).over(
          Window.orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .orderBy(col("doc_id"))
      .select("doc_id", "n_tok", "tok_offset")
      .collect()
    val got = packed.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = naive.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("tx19 packing invariants: contiguity, monotonicity, boundary flag") {
    assert(packed.nonEmpty)
    packed.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) == a.getLong(2) + a.getLong(1), "offsets contiguous")
        assert(b.getLong(3) >= a.getLong(3), "seq_first monotone")
      case _ =>
    }
    packed.foreach { r =>
      val (off, n, first, last, nSeqs, crosses) =
        (r.getLong(2), r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6))
      assert(first == off / 512 && last == (off + n - 1) / 512)
      assert(nSeqs == last - first + 1)
      assert(crosses == (last > first))
    }
    // the fixture must actually exercise a boundary crossing
    assert(packed.exists(_.getBoolean(6)), "fixture has a straddling doc")
  }

  test("tx19 plan: no single-partition window over the document frame") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // every Window node either partitions by bucket (parallel, runs on the
    // document frame) or is the unpartitioned cumulative window over the
    // bucket SUBTOTALS — identified by its input aggregate column btok
    val windows = SparkEntry.queries("tx19_pack_sequences")(spark, sf)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val overSubtotals = w.child.output.exists(_.name == "btok")
      assert(w.partitionSpec.nonEmpty || overSubtotals,
        s"unpartitioned window over non-subtotal frame: $w")
    }
  }

  test("tx20 keeps exactly the per-stratum md5-threshold rows") {
    val kept = SparkEntry.queries("tx20_stratified_sample")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val all = graft.sources.Tables.table(spark, sf, "documents")
      .selectExpr("doc_id", "lang",
        "substring(md5(cast(cast(doc_id as string) as binary)), 1, 8) AS skey")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val want = all.filter { case (_, lang, skey) =>
      val thr = lang match {
        case "en" => "40000000"; case "zh" => "c0000000"; case _ => "80000000"
      }
      skey < thr
    }.toSet
    assert(kept == want)
    assert(kept.nonEmpty && kept.size < all.length)
    // rough rate sanity per stratum: en well under the others
    val enRate = kept.count(_._2 == "en").toDouble /
      all.count(_._2 == "en").max(1)
    assert(enRate < 0.45, s"en rate $enRate should be ~0.25")
  }
}
