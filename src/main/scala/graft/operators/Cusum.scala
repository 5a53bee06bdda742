package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** CUSUM (cumulative-sum) changepoint detection — Page (1954), the
  * standard sequential drift detector a monitoring pipeline pages on:
  * track one-sided cumulative deviations from a target mean μ with slack
  * k, alarm when either side crosses threshold h, reset after an alarm so
  * multiple regime shifts in one series each fire once.
  *
  *   S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (xᵢ − μ − k))   (upward shifts)
  *   S⁻ᵢ = max(0, S⁻ᵢ₋₁ + (μ − xᵢ − k))   (downward shifts)
  *   alarmᵢ = S⁺ᵢ > h ∨ S⁻ᵢ > h;  alarm ⇒ both sides restart from 0
  *
  * The max(0, ·) clamp has no closed form (unlike the EMA, which ts21
  * unrolls), so the recursion runs as a per-series sequential kernel
  * inside `flatMapGroups` — data-parallel across series, sequential
  * within, the same shape as [[Lttb]]. Cross-engine determinism: every
  * recursion step is rounded to 6 dp (`round6`, matching SQL `round(x,
  * 6)`), and the step delta `x − μ − k` is one fixed left-associated IEEE
  * tree — the DuckDB oracle replays the recursion step-for-step with
  * `WITH RECURSIVE`.
  */
object Cusum {

  // JBigDecimal.valueOf (toString-shortest), NOT new JBigDecimal(x): SQL
  // round() in both engines rounds the decimal shortest representation,
  // and the exact-binary expansion disagrees with it one ulp below a
  // half-way point — the oracle replays with SQL ROUND, so the kernel
  // must round identically
  private def round6(x: Double): Double =
    JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue

  /** One input point: (ts µs, tiebreak id, x). */
  final case class Point(tsUs: Long, id: Long, x: Double)

  /** One output row: the detector state AFTER consuming the point. */
  final case class State(tsUs: Long, id: Long, x: Double,
      sp: Double, sn: Double, alarm: Boolean)

  /** One recursion step: detector sides (and alarm flag) BEFORE the point
    * → (S⁺, S⁻, alarm) AFTER it. Shared verbatim by the batch kernel
    * ([[run]]) and the step of the streaming keyed-state fold
    * ([[graft.streaming.GasStream.cusumStream]]), so "stream ≡ batch" is
    * true by construction, not by parallel maintenance. */
  def step(sp0: Double, sn0: Double, alarm0: Boolean, x: Double,
      mu: Double, k: Double, h: Double): (Double, Double, Boolean) = {
    val bp = if (alarm0) 0.0 else sp0
    val bn = if (alarm0) 0.0 else sn0
    val sp = round6(math.max(0.0, bp + round6(x - mu - k)))
    val sn = round6(math.max(0.0, bn + round6(mu - x - k)))
    (sp, sn, sp > h || sn > h)
  }

  /** Run the detector over one series. `pts` must be sorted by (tsUs, id);
    * μ, k, h are the (already-rounded) per-series parameters. */
  def run(pts: Array[Point], mu: Double, k: Double, h: Double): Seq[State] = {
    val out = Seq.newBuilder[State]
    var sp = 0.0
    var sn = 0.0
    var alarm = false
    var i = 0
    while (i < pts.length) {
      val p = pts(i)
      val next = step(sp, sn, alarm, p.x, mu, k, h)
      sp = next._1; sn = next._2; alarm = next._3
      out += State(p.tsUs, p.id, p.x, sp, sn, alarm)
      i += 1
    }
    out.result()
  }
}
