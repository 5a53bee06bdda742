package graft

import org.apache.spark.sql.SparkSession

import graft.util.Sessions

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...,"queries":{...}}.
  *
  * Each query is materialized with a `noop`-format write so the full plan
  * executes (a bare `.count()` would let Catalyst prune most of the work).
  * One warm-up action runs first so JVM/codegen warm-up isn't billed to the
  * first query.
  *
  * Args: `[--repeat N] [prefix]`. `--repeat N` (or SPARK_GRAFT_REPEAT,
  * default 2) runs each query N times and records the BEST time when the
  * passes agree (spread ≤2×): this host has documented hypervisor-steal
  * windows (PLANS.md) that inflate a contiguous block of queries 3-18× in
  * a single pass, and min-of-N is the standard way to measure the code
  * rather than the noise. When passes DISAGREE (>2×) a respread pass
  * runs, and the min must then be CONFIRMED by the second-fastest pass
  * (within 2×) to be recorded — an unconfirmed fast outlier (page-cache
  * hit, partially-skipped work) would otherwise be enshrined as "the
  * code"; where the fastest pair disagrees the lower median is recorded
  * and the query lands in the artifact's "noisy" list. Best-of-2 is the default because the recorded
  * per-round bench runs with no args; a single pass also bills cold
  * parquet-footer/codegen costs to whichever query touches a table first
  * (measured: tx14 11.6 s cold vs 2.6 s warm with zero steal). `prefix`
  * restricts to queries whose name starts with it.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus(32)
    val (repeat, positional) = {
      val i = args.indexOf("--repeat")
      if (i >= 0 && i + 1 < args.length)
        (args(i + 1).toInt, args.patch(i, Nil, 2))
      else (sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt, args)
    }
    // Shuffle-partition regime (round-12 verdict item 1 — the q28 class
    // at the shuffle layer): a FIXED small shuffle.partitions is a fixed
    // resource count against growing data. The query session
    // ([[graft.util.Sessions.query]]) derives the AQE initial count from
    // input size, with the round-13 measurements that chose it; at sf0.1
    // it floors to the fixed-cpus regime of rounds ≤12. Streaming is
    // unaffected (AQE is disabled in stateful workloads; those keep
    // shuffle.partitions = cpus, pinned per checkpoint).
    Sessions.run(Sessions.query(sfDir, cpus))(
      bench(_, sfDir, cpus, repeat, positional))
  }

  private def bench(spark: SparkSession, sfDir: String, cpus: Int,
      repeat: Int, positional: Array[String]): Unit = {
    // Per-query spill accounting: the artifact carries the evidence that
    // per-partition shuffle volume stays bounded (or doesn't). Listener
    // events are posted asynchronously, so totals snapshot right after
    // the query's action can undercount slightly — fine for the multi-GB
    // signal this exists to catch.
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            spillDisk.addAndGet(m.diskBytesSpilled)
            spillMem.addAndGet(m.memoryBytesSpilled)
          }
        }
      })

    // warm-up: JVM + codegen + parquet footer caches
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    // optional positional arg: only queries whose name starts with one of
    // the comma-separated prefixes (e.g. "tx35,ts41" — one JVM per ladder
    // rung instead of one per query)
    val selected = positional.headOption match {
      case Some(prefixes) =>
        val ps = prefixes.split(',').filter(_.nonEmpty)
        SparkEntry.queries.filter { case (n, _) => ps.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    // best-of-N per query, whole-suite passes interleaved (pass 1 all
    // queries, then pass 2, ...) so one steal window can't sit on the same
    // query in every pass.
    // every successful pass's time, in order — the variance band the file
    // artifact records so a run-over-run swing on untouched code reads as
    // noise (passes disagree) instead of a regression (passes agree)
    val allTimes = collection.mutable.Map.empty[String, List[Double]]
    // max-across-passes disk spill per query, bytes (conservative: the
    // worst pass is the one that describes the memory-pressure exposure)
    val spillBytes = collection.mutable.Map.empty[String, Long]
    val spillMemBytes = collection.mutable.Map.empty[String, Long]
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        pass: String): Unit = {
      // label every job with its query (guide §1.5) so event-log profiles
      // can attribute jobs and inter-job driver gaps per query
      spark.sparkContext.setJobDescription(s"$name pass $pass")
      val d0 = spillDisk.get()
      val m0 = spillMem.get()
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
        }
      val secs = (System.nanoTime() - t0) / 1e9
      val dspill = spillDisk.get() - d0
      val mspill = spillMem.get() - m0
      System.err.println(f"[bench] $name (pass $pass): $secs%.3f s" +
        (if (dspill > 0) f" (disk spill ${dspill / 1e6}%.0f MB)" else ""))
      spillBytes(name) = math.max(spillBytes.getOrElse(name, 0L), dspill)
      spillMemBytes(name) = math.max(spillMemBytes.getOrElse(name, 0L), mspill)
      // a pass that crashed never records a (fast) time
      if (ok) allTimes(name) = allTimes.getOrElse(name, Nil) :+ secs
      spark.sparkContext.setJobDescription(null)
    }
    // HOST-NOISE CANARY (round-13 verdict item 6): round 13's bench total
    // moved +7.8% on untouched code and nothing in the artifact could say
    // whether the host window ran hot or the code got slower — every
    // query moved together and the `noisy` flag only covers INTRA-run
    // spread. The canary is a fixed, code-independent probe (pure-codegen
    // modular sum over spark.range: no IO, no shuffle, no library code
    // that rounds could change), timed at each pass's start, middle and
    // end. A verdict diffing two rounds' totals reads the two canary
    // medians first: canary moved with the total → host window; canary
    // held, total moved → the code.
    val canaryTimes = collection.mutable.ArrayBuffer.empty[Double]
    def canary(): Unit = {
      val t0 = System.nanoTime()
      spark.range(0L, 400000000L, 1L, cpus)
        .selectExpr("sum(id % 1000003) AS s")
        .write.format("noop").mode("overwrite").save()
      canaryTimes += (System.nanoTime() - t0) / 1e9
    }
    for (pass <- 1 to math.max(repeat, 1)) {
      val seq = selected.toSeq.sortBy(_._1)
      canary()
      seq.zipWithIndex.foreach { case ((name, fn), i) =>
        if (i == seq.size / 2 && seq.size > 2) canary()
        timeOne(name, fn, pass.toString)
      }
      canary()
    }
    // Adaptive re-measure (round-11 verdict item 5: q36 swung 0.36→2.40 s
    // run-over-run on untouched code — a write-path query can catch an
    // IO-pressure window in BOTH passes of one run): when a query's passes
    // disagree by >2×, at least one pass was noise — one more pass breaks
    // the tie (via the median rule below). Bounded: only the noisy set
    // re-runs, and single-pass runs (ladder rungs) are left untouched.
    if (repeat > 1)
      selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val ts = allTimes.getOrElse(name, Nil)
        if (ts.size >= 2 && ts.min > 0 && ts.max / ts.min > 2.0)
          timeOne(name, fn, "respread")
      }
    // Recorded value (round-12 ADVICE): min-of-N treats an anomalously
    // FAST pass — page-cache hit, partially-skipped work — as "the code"
    // forever, even when the respread pass contradicts it. The rule is
    // the advisor's "agreeing pair's min": when the two FASTEST passes
    // agree within 2×, the min is confirmed by a second measurement and
    // stays (a slow cold/steal pass above them is irrelevant — that's
    // the classic min-of-N case). When the fastest time stands ALONE
    // (next-best is >2× slower), it is an unconfirmed outlier and the
    // lower median is recorded instead — with the respread's 3 passes
    // the majority pair wins in either direction. Queries whose fastest
    // pair still disagrees are flagged in the artifact ("noisy") so a
    // diff reader never mistakes residual variance for a regression.
    def fastPairDisagrees(ts: List[Double]): Boolean = {
      val s = ts.sorted
      s.size >= 2 && s.head > 0 && s(1) / s.head > 2.0
    }
    def recorded(ts: List[Double]): Double = {
      val s = ts.sorted
      // size-2 disagreement (round-13 ADVICE): reachable when the
      // respread pass itself crashes — the lower median s(0) would then
      // be exactly the unconfirmed fast outlier this rule exists to
      // reject, so record the SLOWER time (conservative; the query also
      // lands in `noisy`, so a diff reader sees the residual variance).
      if (fastPairDisagrees(ts)) { if (s.size == 2) s(1) else s((s.size - 1) / 2) }
      else s.head
    }
    val results = selected.keys.toSeq.sorted.map { name =>
      val ts = allTimes.getOrElse(name, Nil)
      if (ts.isEmpty) (name, -1.0, false) else (name, recorded(ts), true)
    }
    val noisy = results.collect {
      case (k, _, true) if fastPairDisagrees(allTimes(k)) => k
    }
    // ISOLATED RECHECK (round-15 verdict item 8): tx41 read 4.09 s for two
    // rounds because ~300 queries of JVM/code-cache context inflated it —
    // a fresh-JVM bisect found 1.7 s, and the misattribution cost a
    // verdict item. Any recorded time ≥2× its previous-round value (prior
    // = BENCH_FULL.json, or SPARK_GRAFT_BENCH_PRIOR) now re-measures in a
    // FRESH single-query JVM before the artifact is written, so the
    // artifact itself separates "bench context" from "the code". Bounded:
    // ≤6 rechecks, full-board runs only, recheck disabled in the child.
    def isolatedTime(name: String): Double = {
      try {
        val sep = java.io.File.pathSeparator
        val rawCp = System.getProperty("java.class.path", "")
        val cp =
          if (rawCp.toLowerCase.contains("spark")) rawCp
          else s"/opt/spark/jars/*${sep}target/scala-2.13/classes"
        val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
          "java.io", "java.net", "java.nio", "java.util",
          "java.util.concurrent", "java.util.concurrent.atomic",
          "sun.nio.ch", "sun.nio.cs", "sun.security.action",
          "sun.util.calendar").map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
        val outFile = java.nio.file.Files.createTempFile("bench_recheck", ".json")
        val javaBin = new java.io.File(new java.io.File(
          System.getProperty("java.home"), "bin"), "java").getPath
        val cmd = Seq(javaBin) ++ opens ++ Seq(
          "-Djdk.reflect.useDirectMethodHandleAccessor=false", "-Xmx16g",
          "-cp", cp, "graft.Bench", "--repeat", "1", name)
        val pb = new ProcessBuilder(cmd: _*)
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.environment().put("SPARK_GRAFT_RECHECK", "0")
        pb.environment().put("SPARK_GRAFT_BENCH_OUT", outFile.toString)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(ProcessBuilder.Redirect.DISCARD)
        val proc = pb.start()
        val finished = proc.waitFor(900, java.util.concurrent.TimeUnit.SECONDS)
        if (!finished) { proc.destroyForcibly(); return -1.0 }
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(outFile.toFile)
        java.nio.file.Files.deleteIfExists(outFile)
        val qs = if (node == null) null else node.get("queries")
        val v = if (qs == null) null else qs.get(name)
        if (v == null) -1.0 else v.asDouble(-1.0)
      } catch { case _: Exception => -1.0 }
    }
    val recheck =
      scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double)]
    if (positional.isEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_RECHECK", "1") != "0") {
      val priorPath =
        sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "BENCH_FULL.json")
      val prior: Map[String, Double] =
        try {
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(new java.io.File(priorPath))
          val qs = node.get("queries")
          if (qs == null) Map.empty
          else scala.jdk.CollectionConverters.IteratorHasAsScala(qs.fieldNames())
            .asScala.map(k => k -> qs.get(k).asDouble(-1.0)).toMap
        } catch { case _: Exception => Map.empty[String, Double] }
      // the 0.3 s floor keeps sub-second jitter out of the flag set —
      // the bench-context effect this hunts is a multi-second signal
      val flagged = results.collect {
        case (k, v, true)
          if prior.getOrElse(k, -1.0) >= 0.3 && v >= 2.0 * prior(k) =>
          (k, v, prior(k))
      }.take(6)
      flagged.foreach { case (k, v, p) =>
        System.err.println(f"[bench] $k: ${v}%.3f s is >=2x prior ${p}%.3f s" +
          " — isolated fresh-JVM recheck")
        recheck(k) = (v, p, isolatedTime(k))
      }
    }
    val recheckJson = recheck
      .map { case (k, (v, p, iso)) =>
        s""""$k":{"recorded":${"%.3f".formatLocal(java.util.Locale.ROOT, v)},""" +
          s""""prior":${"%.3f".formatLocal(java.util.Locale.ROOT, p)},""" +
          s""""isolated":${"%.3f".formatLocal(java.util.Locale.ROOT, iso)}}"""
      }
      .mkString("{", ",", "}")
    // a failed query is reported as -1, never as a (fast) success time.
    // Locale.ROOT, not the f-interpolator: under a comma-decimal default
    // locale f"$v%.3f" prints "1,234" and the JSON line stops parsing.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def entry(k: String, v: Double, ok: Boolean): String =
      "\"" + k + "\":" + (if (ok) num(v) else "-1")
    val qs = results
      .map { case (k, v, ok) => entry(k, v, ok) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // the headline total counts successful queries only, matching the
    // per-query entries (a fast crash must not deflate the total)
    val total = results.collect { case (_, v, true) => v }.sum
    val totalS = num(total)
    // per-pass times (the variance band): only in the FILE artifact — the
    // stdout line must stay inside the harness tail window
    val passesJson = results
      .map { case (k, _, _) =>
        "\"" + k + "\":[" +
          allTimes.getOrElse(k, Nil).map(num).mkString(",") + "]"
      }
      .mkString("{", ",", "}")
    val noisyJson = noisy.map("\"" + _ + "\"").mkString("[", ",", "]")
    // disk spill per query in MB, nonzero entries only (zero is the norm
    // and the artifact should stay diffable)
    val spillJson = results
      .collect { case (k, _, _) if spillBytes.getOrElse(k, 0L) > 0 =>
        "\"" + k + "\":" + num(spillBytes(k) / 1e6)
      }
      .mkString("{", ",", "}")
    // memory spill reported alongside disk (round-13 ADVICE: the counter
    // was accumulated but never read) — it fires well before disk spill
    // does, so it is the earlier memory-pressure signal
    val spillMemJson = results
      .collect { case (k, _, _) if spillMemBytes.getOrElse(k, 0L) > 0 =>
        "\"" + k + "\":" + num(spillMemBytes(k) / 1e6)
      }
      .mkString("{", ",", "}")
    // one-time index-at-rest builds paid inside this run's timings (r16
    // verdict item 8): when the VectorIndex sidecar was built by THIS
    // process, the map records key → build seconds so the first-pass
    // serve times that carried the build stay distinguishable from the
    // steady-state ones; empty when every index was already at rest
    val indexBuildJson = graft.store.VectorIndex.drainBuildLog()
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val canarySorted = canaryTimes.sorted
    val canaryJson =
      if (canarySorted.isEmpty) "null"
      else {
        val med = canarySorted((canarySorted.size - 1) / 2)
        s"""{"times":[${canaryTimes.map(num).mkString(",")}],"median":${num(med)},"band":[${num(canarySorted.head)},${num(canarySorted.last)}]}"""
      }
    val fullLine =
      s"""{"metric":"total","value":$totalS,"unit":"sec","n_queries":${results.size},"queries":$qs,"failed":$failed,"noisy":$noisyJson,"isolated_recheck":$recheckJson,"initial_partitions":${spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")},"spill_disk_mb":$spillJson,"spill_mem_mb":$spillMemJson,"host_canary":$canaryJson,"index_build_s":$indexBuildJson,"sf":"$sfDir","repeat":$repeat,"passes":$passesJson}"""
    // The complete per-query artifact goes to a FILE: the harness that
    // records the per-round bench keeps only a ~2000-char tail of the
    // process output, which decapitates a 166-query JSON line (r7's
    // BENCH artifact had parsed=null and the first ~96 timings were
    // unrecoverable). The file is the durable, diffable record.
    // a prefix-FILTERED run must not clobber the committed full-board
    // artifact (it silently shrank BENCH_FULL.json to the 3 ladder
    // queries mid-round-10): partial runs default to BENCH_PARTIAL.json,
    // which is gitignored scratch
    val defaultOut =
      if (positional.nonEmpty) "BENCH_PARTIAL.json" else "BENCH_FULL.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (fullLine + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full artifact written to $outPath")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // stdout gets a line guaranteed to FIT the tail window and parse:
    // full map if small enough, else the slowest queries that fit plus a
    // pointer to the file artifact.
    val budget = 1800
    val stdoutLine =
      if (fullLine.length <= budget) fullLine
      else {
        val slowest = results.filter(_._3).sortBy(-_._2)
        val head =
          s"""{"metric":"total","value":$totalS,"unit":"sec","n_queries":${results.size},"failed":$failed,"sf":"$sfDir","full":"$outPath","queries":{"""
        val tailStr = "}}"
        val sb = new StringBuilder(head)
        var first = true
        slowest.foreach { case (k, v, ok) =>
          val e = entry(k, v, ok)
          if (sb.length + e.length + tailStr.length + 1 <= budget) {
            if (!first) sb.append(',')
            sb.append(e); first = false
          }
        }
        sb.append(tailStr).toString
      }
    println(stdoutLine)
  }
}
