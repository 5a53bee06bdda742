package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.VectorOps
import graft.util.{Barriers, Sessions}

/** PQ-CASCADE DIAL SWEEP (round-14 verdict item 3): v43's width-robust
  * cascade bought its d=1536 speedup (6.39× → 1.79× cost ratio vs d=64)
  * with a recall debit — 0.88@C2=30 vs v32's SQ8 0.92@C2=15 — and v32/v43
  * share the SAME stage-1 (64-bit sign Hamming top-100), so the loss is
  * entirely stage-2 PQ ranking fidelity and the stage-1 ceiling is known
  * ≥ 0.92. This main sweeps the training dials the verdict names
  * (centroids-per-subspace k, train-sample stride, Lloyd steps, stage-2
  * keep C2) on an arbitrary corpus and prints recall@5 + wall per arm —
  * the measurement that picks the registered default. Ground truth
  * (exact top-5) is computed ONCE per run and reused across arms.
  *
  * Usage: `graft.CascadeTune <corpusDir> k=K,s=S,t=T,c2=C[,c1=..][,w=..][,st=1] [...]`
  * e.g. `graft.CascadeTune /tmp/dimvol1536 k=16,s=8,t=1,c2=30 k=64,s=4,t=2,c2=30,st=1`
  *
  * `st=1` (round-16) serves the arm from the STORED index
  * ([[graft.store.VectorIndex]]): the one-time index build (signatures +
  * codebook + corpus encode) is timed separately as `build_s` and the
  * arm's `wall_s` is the SERVE cost — the split the r15 verdict asked
  * for, since in-query re-encode is precisely what made k>16 codebooks
  * and w>8 signatures look uneconomical. `w=0` takes the width-derived
  * default. */
object CascadeTune {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CascadeTune <corpusDir> k=..,s=..,t=..,c2=.. ...")
    Sessions.run(Sessions.query(args(0), Sessions.cpus(32)))(tune(_, args))
  }

  private def tune(spark: SparkSession, args: Array[String]): Unit = {
    val dir = args(0)
    val arms = args.drop(1).toSeq.map { a =>
      val m = a.split(",").map { kv =>
        val Array(n, v) = kv.split("=", 2); (n, v.toInt)
      }.toMap
      (m("k"), m("s"), m("t"), m.getOrElse("c1", 100), m("c2"),
        m.getOrElse("w", 4), m.getOrElse("st", 0), m.getOrElse("m", 0))
    }
    val run = VectorOps.withHashAggBudget { (s, d) =>
      val e = VectorOps.emb(s, d)
      val qs = e.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("norm").as("qn"))
      VectorOps.cosineTopK(e, qs, 5).select(col("q_id"), col("c_id"))
    }
    val exact = Barriers.eager(run(spark, dir))
    val nExact = exact.count()
    System.err.println(s"[tune] exact ground truth: $nExact rows")

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

    val rows = arms.map { case (k, s0, t, c1, c2, w, st, mArg) =>
      // stored arms: force the index to rest FIRST, billed as build_s —
      // the serve measurement below then reads lookups like production
      val buildS =
        if (st != 1) 0.0
        else {
          val b0 = System.nanoTime()
          val pre = VectorOps.withHashAggBudget { (s, d) =>
            val e = VectorOps.emb(s, d)
            val dd = e.select(size(col("emb"))).head().getInt(0)
            val wv = if (w > 0) w else VectorOps.derivedWords(dd)
            val mv = if (mArg > 0) mArg else VectorOps.derivedSubspaces(dd)
            graft.store.VectorIndex.ensure(s, d, wv, k, s0, t, mv)(
              VectorOps.buildIndexFrames(e, wv, k, s0, t, mv))._1.limit(1)
          }
          pre(spark, dir).count()
          (System.nanoTime() - b0) / 1e9
        }
      val t0 = System.nanoTime()
      val armRun = VectorOps.withHashAggBudget { (s, d) =>
        val casc =
          if (st == 1)
            VectorOps.cascadePqStored(s, d, k = k, stride = s0, steps = t,
              c1 = c1, c2 = c2, words = w, m = mArg)._3
          else
            VectorOps.cascadePq(VectorOps.emb(s, d), k = k, stride = s0,
              steps = t, c1 = c1, c2 = c2, words = w)._3
        casc.select(col("q_id"), col("c_id"))
      }
      val top5 = armRun(spark, dir)
      val nHit = top5.join(exact, Seq("q_id", "c_id"), "left_semi").count()
      val secs = (System.nanoTime() - t0) / 1e9
      val recall = nHit.toDouble / nExact
      System.err.println(f"[tune] k=$k s=$s0 t=$t c1=$c1 c2=$c2 w=$w st=$st m=$mArg: " +
        f"recall@5=$recall%.4f wall=$secs%.1f s build=$buildS%.1f s")
      s"""{"k":$k,"stride":$s0,"steps":$t,"c1":$c1,"c2":$c2,"words":$w,""" +
        s""""stored":$st,"m":$mArg,"recall_at_5":${num(recall)},""" +
        s""""wall_s":${num(secs)},"build_s":${num(buildS)}}"""
    }
    println(s"""{"metric":"cascade_tune","corpus":"$dir","n_exact":$nExact,""" +
      s""""arms":[${rows.mkString(",")}]}""")
  }
}
