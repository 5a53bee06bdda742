package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Native Catalyst expression for the similarity-search hot path.
  *
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,x) -> acc+x)` allocates
  * an intermediate array and evaluates two lambdas per element — fine for
  * correctness, but in the brute-force / LSH-verify inner loop it runs
  * O(|pairs| × dim) times. This expression is a single codegen'd tight loop
  * over the two ArrayData buffers: no allocation, no virtual dispatch, stays
  * inside whole-stage codegen.
  *
  * Numerics are identical to the HOF chain on equal-length dense arrays
  * (sequential left-to-right double fold), so swapping it in cannot change
  * oracle-checked results; MALFORMED input follows the HOF too — mismatched
  * lengths and null array slots propagate NULL (zip_with pads the short
  * side with null, the lambda turns it into a null product, and aggregate's
  * `acc + null` nulls the fold), never a silently-truncated value. The
  * per-element null branch is emitted only when the input type's
  * `containsNull` says a null slot is possible, so dense schemas keep the
  * branch-free hot loop.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // null even for non-null inputs (length mismatch / null slot)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullScan = VectorFunctions.elementNullScan(left, right, a, b, n, ctx, ev)
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  $nullScan
         |  if (!${ev.isNull}) {
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += $a.getDouble($i) * $b.getDouble($i);
         |    }
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance between two `array<double>` columns as one
  * codegen'd expression — the PQ family's inner kernel. The HOF form
  * `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0d, +)`
  * materializes an intermediate array and evaluates an interpreted lambda
  * per element; at PQ-encode volume (survivors × k centroids × d dims —
  * the round-14 d=1536 rung ran 1.5·10⁹ lambda evals) that overhead IS
  * the runtime. Numerics are identical to the HOF chain on equal-length
  * dense arrays (sequential left-to-right fold of (x−y)² in element order;
  * the 6-dp round stays at the call site), and — [[DotProduct]]'s
  * discipline — MALFORMED input follows the HOF too: mismatched lengths
  * and null array slots propagate NULL instead of a silently-truncated or
  * garbage-read value. */
case class L2Squared(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // null even for non-null inputs (length mismatch / null slot)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_l2 expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val nullScan = VectorFunctions.elementNullScan(left, right, a, b, n, ctx, ev)
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  $nullScan
         |  if (!${ev.isNull}) {
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $d = $a.getDouble($i) - $b.getDouble($i);
         |      $acc += $d * $d;
         |    }
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH signature of an `array<double>` embedding, as one
  * codegen'd expression. `planes` (1..62, default 16) is the recall dial:
  * more planes feed more LSH bands downstream.
  *
  * Plane component j of plane i is the deterministic pseudo-random value
  * `((73856093L * (i+1) * (j+7)) % 2001) - 1000`; bit i of the signature is
  * set iff `dot(emb, plane_i) >= 0`. The HOF formulation
  * (`aggregate(sequence(0,15), .. aggregate(sequence(0,63), ..))`) evaluates
  * a 1024-term interpreted lambda per row — the exact trap [[DotProduct]]
  * exists to avoid; this is the same computation as a tight nested loop
  * inside whole-stage codegen. Numerics are identical (sequential
  * left-to-right double fold over j, long modulo arithmetic for the plane
  * term), so swapping it in cannot change oracle-checked results.
  *
  * The type is int for ≤31 planes (the original 16-plane signature shape)
  * and long above — 62 is the cap so `1L << i` never reaches the sign bit,
  * mirroring the DuckDB replay's BIGINT shift limit.
  *
  * Round-15 extensions (both default to the historical behavior):
  *  - `offset` shifts into the SAME infinite plane family — plane row i of
  *    `graft_hsig(e, p, off)` is plane row i+off of `graft_hsig(e, p+off)`
  *    — so W independent 62-bit signature words are `offset = w·62`,
  *    w = 0..W−1. More words = finer Hamming granularity: a 64-bit
  *    signature has only 65 distinct distances, and ranking top-C1 of a
  *    64k corpus across ~3-bit-wide tie bands is noise (the r15 cascade
  *    finding — recall 0.27 at 64k where the 25-row sf0.01 panel read
  *    0.88).
  *  - `span` bounds how many leading dims the projection reads; the
  *    historical cap (and default) is 64, `0` = FULL width — the
  *    width-robust form for d > 64 corpora where a 64-dim prefix sees 4%
  *    of the signal.
  */
case class HyperplaneSig(child: Expression, planes: Int = 16,
    offset: Int = 0, span: Int = 64)
    extends UnaryExpression {

  override def dataType: DataType =
    if (planes <= 31) IntegerType else LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if planes < 1 || planes > 62 => TypeCheckResult.TypeCheckFailure(
      "graft_hsig plane count must be a foldable integer literal in 1..62" +
        (if (planes >= 0) s", got $planes" else ""))
    case _ if offset < 0 || span < 0 => TypeCheckResult.TypeCheckFailure(
      "graft_hsig offset/span must be foldable integer literals >= 0" +
        s", got ($offset, $span)")
    // Upper bound on the plane-family shift (r15 ADVICE): the plane
    // component 73856093·(i+1+offset)·(j+7) must stay inside Long for
    // any realistic dim index j — unbounded offsets overflow silently
    // here while the DuckDB oracle's BIGINT arithmetic raises, a parity
    // edge. 4096 covers 66 full-width 62-plane words, far past the
    // swept W∈{1..32} family; misuse now fails at analysis time on both
    // engines.
    case _ if offset + planes > 4096 => TypeCheckResult.TypeCheckFailure(
      "graft_hsig offset + planes must be <= 4096 (plane-component " +
        s"overflow bound), got ($offset + $planes)")
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_hsig expects array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = if (span == 0) v.numElements()
      else math.min(span, v.numElements())
    var sig = 0L
    var i = 0
    while (i < planes) {
      var acc = 0.0
      var j = 0
      while (j < n) {
        acc += v.getDouble(j) *
          ((73856093L * (i + 1 + offset) * (j + 7)) % 2001L - 1000L)
        j += 1
      }
      if (acc >= 0) sig |= (1L << i)
      i += 1
    }
    if (planes <= 31) sig.toInt else sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val sig = ctx.freshName("sig")
      val out = if (planes <= 31) s"(int) $sig" else sig
      val bound =
        if (span == 0) s"$a.numElements()"
        else s"java.lang.Math.min($span, $a.numElements())"
      s"""
         |int $n = $bound;
         |long $sig = 0L;
         |for (int $i = 0; $i < $planes; $i++) {
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    $acc += $a.getDouble($j) *
         |      (double)((73856093L * ($i + 1 + $offset) * ($j + 7)) % 2001L - 1000L);
         |  }
         |  if ($acc >= 0) $sig |= (1L << $i);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** First LSH band (0-based) in which two signatures collide, from their
  * XOR: band b matches when popcount of its `width`-bit slice is ≤
  * `maxHam` (0 = exact bucket equality, 1 = the 1-bit multi-probe
  * contract); −1 when no band matches. The classic emit-on-first-band
  * dedup for banded LSH: a pair colliding in k bands appears k times in
  * the (band, value)-keyed join, and filtering to `b ==
  * graft_first_band(sig_a ^ sig_b, …)` keeps exactly one copy — which
  * removes the candidate distinct() EXCHANGE entirely (round-13's v09
  * spill, 10.5–21 GB at 128×, was that exchange's map-side sort of the
  * pair stream). Pure bit arithmetic on two longs already present in the
  * joined row; codegen'd like its siblings. */
case class LshFirstBand(child: Expression, width: Int, bands: Int,
    maxHam: Int) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if width < 1 || bands < 1 || width * bands > 64 || maxHam < 0 =>
      TypeCheckResult.TypeCheckFailure(
        "graft_first_band needs foldable integer literals with 1 <= width, " +
          s"1 <= bands, width*bands <= 64, maxHam >= 0; got ($width, $bands, $maxHam)")
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_first_band expects an integral signature XOR, got ${other.simpleString}")
  }

  private def firstBand(x: Long): Int = {
    val mask = (1L << width) - 1
    var b = 0
    while (b < bands) {
      if (java.lang.Long.bitCount((x >>> (width * b)) & mask) <= maxHam)
        return b
      b += 1
    }
    -1
  }

  override def nullSafeEval(input: Any): Any = input match {
    case l: Long => firstBand(l)
    case i: Int  => firstBand(i.toLong & 0xffffffffL)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val x = ctx.freshName("x")
      val b = ctx.freshName("b")
      val res = ctx.freshName("res")
      val mask = (1L << width) - 1
      val widen =
        if (child.dataType == IntegerType) s"((long) $a) & 0xffffffffL"
        else a
      s"""
         |long $x = $widen;
         |int $res = -1;
         |for (int $b = 0; $b < $bands; $b++) {
         |  if (java.lang.Long.bitCount(($x >>> ($width * $b)) & ${mask}L) <= $maxHam) {
         |    $res = $b; break;
         |  }
         |}
         |${ev.value} = $res;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Nearest-centroid argmax over a BROADCAST centroid array as ONE
  * codegen'd expression — the map-side form of the k-means / coarse-quantizer
  * assignment: `graft_cos_argmax(emb, norm, cents)` with `cents` an
  * `array<struct<cid: bigint, cvec: array<double>, cnorm: double>>` returns
  * `struct<csim: double, cid: bigint>` for the centroid with the highest
  * 6-dp-rounded cosine, ties to the LOWEST cid.
  *
  * Why an expression and not an aggregate: the historical plan enumerated
  * (row × centroid) via crossJoin(broadcast(cent)) and reduced with
  * `max(struct(round(dot/(norm·cnorm), 6), -cid))` — a groupBy(vec_id)
  * shuffle of the corpus, and (when the aggregate also carried the vector
  * payload, an array-typed buffer) an ObjectHashAggregate whose 128-group
  * sort-based fallback SORTS the entire n×k fanout stream (measured r17:
  * 876 GB memory spill on v16's 128× rung). Here the argmax never leaves
  * the row: no fanout rows, no shuffle, no aggregate — one tight nested
  * loop inside whole-stage codegen.
  *
  * Numerics are bit-identical to the aggregate form: the same sequential
  * left-to-right dot fold per centroid ([[DotProduct]]'s loop), the same
  * `round(q, 6)` semantics (Spark's Round on double = BigDecimal.valueOf →
  * setScale(6, HALF_UP), NaN/Infinity passed through), and the same
  * best-of ordering (`max(struct(csim, -cid))` ≡ highest csim, ties to
  * lowest cid, doubles compared in Spark's total order = Double.compare —
  * NaN greatest, -0.0 < 0.0). Malformed input follows the kernels'
  * discipline: an empty centroid array, a null element, a length mismatch
  * or a null array slot nulls the WHOLE result (the old per-centroid
  * `round(null)` could not arise on the dense schemas either).
  */
case class CosArgmax(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("csim", DoubleType, nullable = false),
    StructField("cid", LongType, nullable = false)))

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val centsOk = third.dataType match {
      case ArrayType(StructType(fields), _) if fields.length == 3 &&
        fields(0).dataType == LongType &&
        fields(1).dataType.isInstanceOf[ArrayType] &&
        fields(1).dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
        fields(2).dataType == DoubleType => true
      case _ => false
    }
    (first.dataType, second.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) if centsOk =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_cos_argmax expects (array<double>, double, " +
          "array<struct<cid: bigint, cvec: array<double>, cnorm: double>>), " +
          s"got (${first.dataType.simpleString}, " +
          s"${second.dataType.simpleString}, ${third.dataType.simpleString})")
    }
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val e = a.asInstanceOf[ArrayData]
    val nrm = b.asInstanceOf[Double]
    val cs = c.asInstanceOf[ArrayData]
    val k = cs.numElements()
    if (k == 0) return null
    val n = e.numElements()
    var bestSim = 0.0
    var bestCid = 0L
    var found = false
    var i = 0
    while (i < k) {
      if (cs.isNullAt(i)) return null
      val r = cs.getStruct(i, 3)
      val cv = r.getArray(1)
      if (cv.numElements() != n) return null
      var acc = 0.0
      var j = 0
      while (j < n) {
        if (e.isNullAt(j) || cv.isNullAt(j)) return null
        acc += e.getDouble(j) * cv.getDouble(j)
        j += 1
      }
      val q = acc / (nrm * r.getDouble(2))
      val sim =
        if (java.lang.Double.isNaN(q) || java.lang.Double.isInfinite(q)) q
        else java.math.BigDecimal.valueOf(q)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val cid = r.getLong(0)
      val cmp = java.lang.Double.compare(sim, bestSim)
      if (!found || cmp > 0 || (cmp == 0 && cid < bestCid)) {
        bestSim = sim; bestCid = cid; found = true
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestSim, bestCid))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val k = ctx.freshName("k")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val q = ctx.freshName("q")
      val sim = ctx.freshName("sim")
      val cid = ctx.freshName("cid")
      val cmp = ctx.freshName("cmp")
      val bestSim = ctx.freshName("bestSim")
      val bestCid = ctx.freshName("bestCid")
      val found = ctx.freshName("found")
      val bad = ctx.freshName("bad")
      val row = ctx.freshName("row")
      val cv = ctx.freshName("cv")
      s"""
         |int $k = $c.numElements();
         |int $n = $a.numElements();
         |boolean $bad = ($k == 0);
         |double $bestSim = 0.0;
         |long $bestCid = 0L;
         |boolean $found = false;
         |for (int $i = 0; $i < $k && !$bad; $i++) {
         |  if ($c.isNullAt($i)) { $bad = true; break; }
         |  InternalRow $row = $c.getStruct($i, 3);
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $row.getArray(1);
         |  if ($cv.numElements() != $n) { $bad = true; break; }
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    if ($a.isNullAt($j) || $cv.isNullAt($j)) { $bad = true; break; }
         |    $acc += $a.getDouble($j) * $cv.getDouble($j);
         |  }
         |  if ($bad) break;
         |  double $q = $acc / ($b * $row.getDouble(2));
         |  double $sim = (java.lang.Double.isNaN($q) || java.lang.Double.isInfinite($q))
         |    ? $q
         |    : java.math.BigDecimal.valueOf($q)
         |        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue();
         |  long $cid = $row.getLong(0);
         |  int $cmp = java.lang.Double.compare($sim, $bestSim);
         |  if (!$found || $cmp > 0 || ($cmp == 0 && $cid < $bestCid)) {
         |    $bestSim = $sim; $bestCid = $cid; $found = true;
         |  }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[] { (Object) java.lang.Double.valueOf($bestSim),
         |                   (Object) java.lang.Long.valueOf($bestCid) });
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object VectorFunctions {

  /** Generated null guard for the array kernels, emitted ONLY when an
    * input type's `containsNull` admits a null slot (statically-dense
    * schemas skip it entirely). Emitted as a SEPARATE prefix scan — bitset
    * probes only — so the arithmetic loop that follows stays branch-free
    * and JIT-vectorizable even on nullable schemas (parquet list elements
    * are nullable by default, so the ANN/PQ hot paths do take this path).
    * A null slot nulls the whole result, matching the HOF fold
    * (`acc + null` → null). */
  private[functions] def elementNullScan(left: Expression, right: Expression,
      a: String, b: String, n: String, ctx: CodegenContext,
      ev: ExprCode): String = {
    val checks = Seq(left -> a, right -> b).collect {
      case (e, v) if e.dataType.asInstanceOf[ArrayType].containsNull => v
    }
    if (checks.isEmpty) ""
    else {
      val j = ctx.freshName("j")
      val probes = checks.map(v => s"$v.isNullAt($j)").mkString(" || ")
      s"""for (int $j = 0; $j < $n; $j++) {
         |  if ($probes) { ${ev.isNull} = true; break; }
         |}""".stripMargin
    }
  }

  /** Single source of truth for the native function set — consumed by both
    * [[register]] and [[GraftExtensions]] so the two entry points can never
    * drift apart. */
  private[functions] val injectable = Seq[(String, Seq[Expression] => Expression)](
    "graft_dot" -> (exprs => DotProduct(exprs(0), exprs(1))),
    "graft_l2" -> (exprs => L2Squared(exprs(0), exprs(1))),
    // optional args: plane count, plane-family offset, dim span (0 = full
    // width). Guarded: only a foldable integral expression is eval()'d
    // (there is no input row at build time) — a non-foldable or
    // non-integral arg maps to -1, which HyperplaneSig.checkInputDataTypes
    // turns into a clean analysis-time TypeCheckFailure instead of a
    // ClassCastException/NPE here.
    "graft_hsig" -> (exprs => HyperplaneSig(exprs(0),
      if (exprs.length > 1) foldableInt(exprs.lift(1)) else 16,
      if (exprs.length > 2) foldableInt(exprs.lift(2)) else 0,
      if (exprs.length > 3) foldableInt(exprs.lift(3)) else 64)),
    "graft_simhash" -> (exprs => SimHashExpr(exprs(0))),
    // (emb, norm, cents) — map-side nearest-centroid argmax, see CosArgmax
    "graft_cos_argmax" -> (exprs => CosArgmax(exprs(0), exprs(1), exprs(2))),
    // (xor, width, bands, maxHam) — the three params follow graft_hsig's
    // foldable-literal guard: a non-foldable arg maps to -1, which
    // checkInputDataTypes turns into a clean analysis-time failure
    "graft_first_band" -> (exprs => LshFirstBand(exprs(0),
      foldableInt(exprs.lift(1)), foldableInt(exprs.lift(2)),
      foldableInt(exprs.lift(3)))))

  /** graft_hsig's guard, shared: eval a foldable integral literal arg to
    * its int, or -1 (→ a clean TypeCheckFailure downstream). */
  private def foldableInt(e: Option[Expression]): Int = e match {
    case Some(x) if x.foldable && (x.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => true
          case _ => false
        }) =>
      x.eval() match {
        case n: Number => n.intValue
        case _ => -1
      }
    case _ => -1
  }

  /** Register the native functions the session's registry lacks, so they
    * are usable from SQL and `expr(...)`. A session built with
    * [[GraftExtensions]] already holds them all, so this leaves it untouched
    * (replacing a held function would log a WARN per function); a session
    * without the extensions (the test suite's, or `newSession()` of one)
    * gets them here. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    injectable.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
