package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.VectorOps

/** Density-scaled LSH banding (PLANS.md "The v09 finding").
  *
  * A fixed band width w gives 2^w buckets per band, so bucket occupancy —
  * and with it the random-collision candidate volume, ∝ n²/2^w — grows
  * with the corpus. The scale remedy is to grow w with log₂(n), holding
  * occupancy (and therefore shuffle volume per row) constant. That trade
  * only works in the similarity regime LSH is for: true-duplicate pairs
  * whose per-plane agreement p is high still collide at p^w per band,
  * while random pairs are diluted across 2^w buckets.
  *
  * This suite pins both halves on a seeded synthetic corpus of 20
  * high-similarity clusters (5 members each, cos ≈ 0.999 within) buried
  * in 1000 random noise vectors:
  *   1. recall: the wide (13-bit) bands keep ≥ 95% of within-cluster
  *      pairs — p ≈ 0.986 per plane ⇒ p¹³ ≈ 0.83 per band, 4 bands ⇒
  *      ≈ 0.999 per pair;
  *   2. dilution: noise-noise candidates collapse by ≥ 50× versus the
  *      4-bit bands at equal band count (expected ratio ≈ 2⁹).
  */
class DensityScaledLshSpec extends SparkSpec {

  private val Dim = 64
  private val NoiseN = 1000
  private val Clusters = 20
  private val Members = 5

  /** (vec_id, emb, norm) frame: noise ids 0..999, cluster member ids
    * 10000 + 10·cluster + member. Seeded — fully deterministic. */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(42)
    def unitish(): Array[Double] = Array.fill(Dim)(rnd.nextGaussian())
    val noise = (0 until NoiseN).map(i => (i.toLong, unitish()))
    val clustered = (0 until Clusters).flatMap { c =>
      val center = unitish()
      (0 until Members).map { m =>
        val v = center.zip(Array.fill(Dim)(rnd.nextGaussian() * 0.02))
          .map { case (x, e) => x + e }
        (10000L + 10L * c + m, v)
      }
    }
    val rows = (noise ++ clustered).map { case (id, v) =>
      (id, v, math.sqrt(v.map(x => x * x).sum))
    }
    import spark.implicits._
    rows.toDF("vec_id", "emb", "norm")
  }

  private def pairs(planes: Int, bands: Int, width: Int): Set[(Long, Long)] = {
    VectorOps.lshCandidates(corpus, planes, bands, width)
      .select(col("vec_a"), col("vec_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def isCluster(id: Long) = id >= 10000L
  private def sameCluster(a: Long, b: Long) =
    isCluster(a) && isCluster(b) && (a - 10000L) / 10 == (b - 10000L) / 10

  // equal band count so the only variable is band width; 4 bands is what
  // 52 planes of 13 bits afford under graft_hsig's 62-plane signature cap
  private lazy val narrow = pairs(planes = 16, bands = 4, width = 4)
  private lazy val wide = pairs(planes = 52, bands = 4, width = 13)

  test("wide bands keep within-cluster recall high") {
    val truePairs = for {
      c <- 0 until Clusters
      m1 <- 0 until Members; m2 <- (m1 + 1) until Members
    } yield (10000L + 10L * c + m1, 10000L + 10L * c + m2)
    val wideHits = truePairs.count(wide.contains)
    assert(wideHits >= (truePairs.size * 0.95).toInt,
      s"wide-band recall $wideHits/${truePairs.size}")
  }

  test("wide bands dilute random collisions by orders of magnitude") {
    val narrowNoise = narrow.count { case (a, b) => !sameCluster(a, b) }
    val wideNoise = wide.count { case (a, b) => !sameCluster(a, b) }
    assert(narrowNoise > 0, "fixture must produce narrow-band noise collisions")
    assert(wideNoise.toDouble <= narrowNoise.toDouble / 50,
      s"expected >=50x dilution, got narrow=$narrowNoise wide=$wideNoise")
  }

  test("scaledWidth: occupancy-64 derivation, and the oracle-gate floor") {
    // the registered v10/v21/v30 pipelines derive their width from the
    // corpus size; these pins make the contract explicit
    assert(VectorOps.scaledWidth(500) == 4, "sf0.01 gate: MUST equal the " +
      "literal width-4 dials the DuckDB oracles replay")
    assert(VectorOps.scaledWidth(5000) == 7) // sf0.1 bench
    assert(VectorOps.scaledWidth(16000) == 8) // 8x stress rung
    assert(VectorOps.scaledWidth(64000) == 10) // 32x stress rung
    assert(VectorOps.scaledWidth(1) == 4, "tiny corpora keep the floor")
    // occupancy n/2^w stays in [32, 64] above the floor — the invariant
    // that makes candidate volume linear in n
    for (n <- Seq(10000L, 100000L, 1000000L, 100000000L)) {
      val w = VectorOps.scaledWidth(n)
      val occ = n.toDouble / (1L << w)
      assert(occ <= 64.0 && occ > 31.0, s"n=$n w=$w occ=$occ")
    }
    // seeded random sweep over 9 decades (above the floor region, where
    // the derivation — not the floor — decides w)
    val rnd = new scala.util.Random(7)
    (1 to 1000).foreach { _ =>
      // & Long.MaxValue, not math.abs: abs(Long.MinValue) is NEGATIVE
      val n = 4097L + ((rnd.nextLong() & Long.MaxValue) % 1000000000000L)
      val w = VectorOps.scaledWidth(n)
      val occ = n.toDouble / (1L << w)
      assert(occ <= 64.0 && occ > 31.0, s"n=$n w=$w occ=$occ")
    }
  }

  test("lshDials: signature-budget invariant holds over the FULL Long domain") {
    // The round-10 advice point: scaledWidth alone exceeds the budget's
    // valid range above ~10^11 vectors (w > budget/2 → 2 bands × w >
    // budget; (1 << w) - 1 overflows Int at w = 31). lshDials clamps and
    // require()s the invariant — sweep it to 10^18, far beyond any
    // conceivable corpus, for both registered budget configs.
    val rnd = new scala.util.Random(11)
    val decades = (0 to 17).map(d => math.pow(10, d).toLong) ++
      Seq(Long.MaxValue / 2, 1L)
    for {
      (maxBands, budget) <- Seq((4, 62), (15, 62))
      n <- decades ++ (1 to 500).map(_ =>
        1L + ((rnd.nextLong() & Long.MaxValue) % 1000000000000000000L))
    } {
      val (w, bands) = VectorOps.lshDials(n, maxBands, budget)
      assert(bands * w <= budget && w < 31 && bands >= 2,
        s"n=$n budget=$budget -> w=$w bands=$bands")
      // the gate-scale configs stay BIT-IDENTICAL to the literal dials
      // the DuckDB oracles replay
      if (n <= 4096) assert(w == 4, s"gate floor broken at n=$n: w=$w")
    }
    assert(VectorOps.lshDials(500, 4, 62) == (4, 4))
    assert(VectorOps.lshDials(500, 15, 62) == (4, 15))
  }
}
