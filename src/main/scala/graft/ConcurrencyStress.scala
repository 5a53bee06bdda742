package graft

import org.apache.spark.sql.{Row, SparkSession}

import graft.util.Sessions

/** CONCURRENCY AT STRESS (round-13 verdict item 5): `ConcurrencySpec`
  * proves 4-way hash identity on CI-scale fixtures; a shared 100 TB
  * engine serves concurrent HEAVY queries, where the interesting failure
  * modes are resource interaction — memory pressure from two pair-stream
  * movers spilling into the same executor memory pool, shuffle-disk
  * contention, AQE re-planning under a loaded scheduler. This main runs
  * the board's heavy movers on STRESS corpora twice on one SparkContext:
  *
  *  1. SERIAL — each query alone (the SWEEP census condition), recording
  *     wall, disk spill, and an order-insensitive result checksum
  *     (HashQuery's sum+xor+count of per-row xxhash64).
  *  2. CONCURRENT — all of them launched simultaneously from separate
  *     threads (Spark's FAIR-enough FIFO across jobs on one context),
  *     same checksums.
  *
  * Gates: every concurrent checksum must equal its serial twin (a
  * divergence means shared-session state leaked between queries — the
  * ConcurrencySpec contract, now at stress), and the JSON block records
  * wall/spill interaction for SWEEP14.json. Queries can target different
  * corpora (the dir is per-query), so one run covers the doc/vector
  * movers and a relational mover together.
  *
  * Usage: `graft.ConcurrencyStress <name>=<sfDir> [<name>=<sfDir> ...]`
  * e.g. `graft.ConcurrencyStress v09_ann_pairs_hi=/tmp/stress32
  *        tx05_minhash_pairs=/tmp/stress32 q21_interval_join_multibin=/tmp/relstress32`
  * The shuffle regime derives from the FIRST dir (one context, one
  * regime — per-query child-session scopes like withHashAggBudget apply
  * on top exactly as they do on the bench).
  */
object ConcurrencyStress {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ConcurrencyStress <query>=<sfDir> ...")
    val targets = args.toSeq.map { a =>
      val Array(n, d) = a.split("=", 2)
      (n, d)
    }
    Sessions.run(Sessions.query(targets.head._2, Sessions.cpus(32)))(
      run(_, targets))
  }

  private def run(spark: SparkSession, targets: Seq[(String, String)]): Unit = {
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) spillDisk.addAndGet(m.diskBytesSpilled)
        }
      })

    // warm-up: JVM + codegen, one tiny action
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    /** Run one query to its checksum row (the materializing action). */
    def checksum(name: String, dir: String): Row =
      HashQuery.checksum(SparkEntry.queries(name)(spark, dir))

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // ---- serial pass -------------------------------------------------
    val serial = targets.map { case (name, dir) =>
      val d0 = spillDisk.get()
      val t0 = System.nanoTime()
      val cs = checksum(name, dir)
      val secs = (System.nanoTime() - t0) / 1e9
      val spill = spillDisk.get() - d0
      System.err.println(f"[conc] serial $name: $secs%.1f s, spill ${spill / 1e6}%.0f MB")
      (name, secs, spill, cs)
    }

    // ---- concurrent pass ---------------------------------------------
    val d0 = spillDisk.get()
    val t0 = System.nanoTime()
    val concurrent = graft.queries.inParallel(targets.map { case (name, dir) =>
      () => {
        val s0 = System.nanoTime()
        val cs = checksum(name, dir)
        (name, (System.nanoTime() - s0) / 1e9, cs)
      }
    }: _*)
    val concWall = (System.nanoTime() - t0) / 1e9
    val concSpill = spillDisk.get() - d0

    // ---- identity gate ------------------------------------------------
    serial.zip(concurrent).foreach { case ((n, _, _, sc), (n2, _, cc)) =>
      require(n == n2 && sc == cc,
        s"CONCURRENCY DIVERGENCE: $n serial=$sc concurrent=$cc")
      System.err.println(s"[conc] $n checksum identical: $sc")
    }

    // zip positionally (as the identity gate does): a query name passed
    // twice — e.g. one query over two corpora — would otherwise mislabel
    // the second entry's concurrent_s and emit duplicate JSON keys
    val serialJson = serial.zip(concurrent).zipWithIndex.map {
      case (((n, s, sp, cs), (_, concS, _)), i) =>
        val key = if (targets.count(_._1 == n) > 1) s"$n#$i" else n
        s""""$key":{"serial_s":${num(s)},"serial_spill_mb":${num(sp / 1e6)},""" +
          s""""concurrent_s":${num(concS)},""" +
          s""""checksum":"${cs.get(0)}","rows":${cs.get(2)}}"""
    }.mkString("{", ",", "}")
    val totalSerial = serial.map(_._2).sum
    println(s"""{"metric":"concurrency_stress","n_queries":${targets.size},""" +
      s""""queries":$serialJson,"serial_total_s":${num(totalSerial)},""" +
      s""""concurrent_wall_s":${num(concWall)},""" +
      s""""concurrent_spill_mb":${num(concSpill / 1e6)},""" +
      s""""serial_spill_mb":${num(serial.map(_._3).sum / 1e6)},""" +
      s""""identity":"all checksums equal"}""")
  }
}
