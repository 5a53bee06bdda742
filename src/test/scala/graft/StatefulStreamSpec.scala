package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.GasStream

/** Custom keyed state across micro-batches (`mapGroupsWithState`,
  * SURVEY.md §2.9 extended surface): the running per-field stats must
  * accumulate over batches, proving state survives the batch boundary. */
class StatefulStreamSpec extends SparkSpec {
  import spark.implicits._

  test("mapGroupsWithState carries per-field running stats across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val long = input.toDF().toDF("_time", "_field", "_value")

    val q = GasStream.runningFieldStats(long)
      .writeStream.outputMode("update")
      .format("memory").queryName("running").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: A has 2 points, B has 1
    input.addData(
      (ts("2016-10-07 00:00:01"), "A", 10.0),
      (ts("2016-10-07 00:00:02"), "A", 30.0),
      (ts("2016-10-07 00:00:03"), "B", 5.0))
    q.processAllAvailable()
    // batch 2: A gains 1 point — its state must still remember batch 1
    input.addData((ts("2016-10-07 00:00:04"), "A", 20.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT _field, n, mean, max_value FROM running")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))

    // batch-1 emissions
    assert(rows.contains(("A", 2L, 20.0, 30.0)))
    assert(rows.contains(("B", 1L, 5.0, 5.0)))
    // batch-2 emission: count 3 and max 30 prove carried state, not a reset
    assert(rows.contains(("A", 3L, 20.0, 30.0)))
  }

  test("flatMapGroupsWithState closes sessions on gap break AND on event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val long = input.toDF().toDF("_time", "_field", "_value")

    val q = GasStream.closedSessions(long, gapMinutes = 30, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = ts(s).getTime * 1000L
    // batch 1: one open session for A (2 points within the 30 min gap)
    input.addData(
      (ts("2016-10-07 00:00:00"), "A", 1.0),
      (ts("2016-10-07 00:10:00"), "A", 1.0))
    q.processAllAvailable()
    // batch 2: an A event far past the gap → closes session 1 by gap break
    input.addData((ts("2016-10-07 02:00:00"), "A", 1.0))
    q.processAllAvailable()
    // batch 3: only a B event, far in the future → watermark advances past
    // A's (end + gap) with no A event: the timeout path must close it
    input.addData((ts("2016-10-07 06:00:00"), "B", 1.0))
    q.processAllAvailable()
    input.addData((ts("2016-10-07 07:00:00"), "B", 1.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT _field, start_us, end_us, n_points FROM sessions")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // gap-break closure: [00:00, 00:10], 2 points
    assert(rows.contains(("A", us("2016-10-07 00:00:00"), us("2016-10-07 00:10:00"), 2L)))
    // timeout closure: the 02:00 singleton closed with no further A events
    assert(rows.contains(("A", us("2016-10-07 02:00:00"), us("2016-10-07 02:00:00"), 1L)))
  }

  test("a late event inside the gap extends the open session backwards") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val long = input.toDF().toDF("_time", "_field", "_value")

    val q = GasStream.closedSessions(long, gapMinutes = 30, watermark = "3 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_sessions").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = ts(s).getTime * 1000L
    input.addData((ts("2016-10-07 10:00:00"), "A", 1.0))
    q.processAllAvailable()
    // late but within the gap of the open session → must merge, not append
    input.addData((ts("2016-10-07 09:55:00"), "A", 1.0))
    q.processAllAvailable()
    // push the watermark far forward so A's session times out and emits
    input.addData((ts("2016-10-08 00:00:00"), "B", 1.0))
    q.processAllAvailable()
    input.addData((ts("2016-10-08 12:00:00"), "B", 1.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT _field, start_us, end_us, n_points FROM late_sessions")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.contains(("A", us("2016-10-07 09:55:00"), us("2016-10-07 10:00:00"), 2L)))
  }

  test("two late batch-mates within one gap merge into ONE session and stay joinable") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val long = input.toDF().toDF("_time", "_field", "_value")

    val q = GasStream.closedSessions(long, gapMinutes = 30, watermark = "6 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_pair_sessions").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = ts(s).getTime * 1000L
    // batch 1: the open "newest" session
    input.addData((ts("2016-10-07 10:00:00"), "A", 1.0))
    q.processAllAvailable()
    // batch 2: TWO late events, both far behind the open session's reach but
    // within the gap of each other — they must form one merged session, not
    // two finalized singletons
    input.addData(
      (ts("2016-10-07 06:00:00"), "A", 1.0),
      (ts("2016-10-07 06:20:00"), "A", 1.0))
    q.processAllAvailable()
    // batch 3: an even later straggler inside that pair's gap must REJOIN it
    // (the old single-open-session design had already finalized the pair)
    input.addData((ts("2016-10-07 06:40:00"), "A", 1.0))
    q.processAllAvailable()
    // advance the watermark far enough to seal everything
    input.addData((ts("2016-10-08 12:00:00"), "B", 1.0))
    q.processAllAvailable()
    input.addData((ts("2016-10-09 12:00:00"), "B", 1.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql(
      "SELECT _field, start_us, end_us, n_points FROM late_pair_sessions")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // one 3-point late session [06:00, 06:40], one 1-point session at 10:00
    assert(rows.contains(("A", us("2016-10-07 06:00:00"), us("2016-10-07 06:40:00"), 3L)))
    assert(rows.contains(("A", us("2016-10-07 10:00:00"), us("2016-10-07 10:00:00"), 1L)))
    // and no spurious singleton fragments of the late pair
    assert(!rows.exists(r => r._1 == "A" && r._4 == 1L && r._2 == us("2016-10-07 06:00:00")))
  }

  test("closedSessions keeps full-microsecond event time in bounds and gap arithmetic") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val long = input.toDF().toDF("_time", "_field", "_value")

    val q = GasStream.closedSessions(long, gapMinutes = 30, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("us_sessions").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = {
      val t = ts(s)
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    }
    // 30 min + 0.4 ms apart: one gap too far at µs precision, exactly one
    // gap (so one session) if event time were truncated to milliseconds
    input.addData(
      (ts("2016-10-07 00:00:00.0005"), "A", 1.0),
      (ts("2016-10-07 00:30:00.0009"), "A", 1.0),
      (ts("2016-10-07 00:40:00.285714"), "A", 1.0))
    q.processAllAvailable()
    input.addData((ts("2016-10-07 06:00:00"), "B", 1.0))
    q.processAllAvailable()
    input.addData((ts("2016-10-07 07:00:00"), "B", 1.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT _field, start_us, end_us, n_points FROM us_sessions")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 == "A").sortBy(_._2).toSeq
    assert(rows == Seq(
      ("A", us("2016-10-07 00:00:00.0005"), us("2016-10-07 00:00:00.0005"), 1L),
      ("A", us("2016-10-07 00:30:00.0009"), us("2016-10-07 00:40:00.285714"), 2L)),
      s"sessions lost sub-millisecond event time: $rows")
  }

  test("streaming dedup drops redelivered points within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val long = input.toDF().toDF("_time", "_field", "_value")
      .withColumn("_measurement", org.apache.spark.sql.functions.lit("gas"))

    val q = GasStream.dedupeStream(long, "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("deduped").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // same point twice in one batch
    input.addData(
      (ts("2016-10-07 00:00:00"), "A", 1.0),
      (ts("2016-10-07 00:00:00"), "A", 1.0))
    q.processAllAvailable()
    // redelivered in a LATER batch (still inside the horizon) + a new point
    input.addData(
      (ts("2016-10-07 00:00:00"), "A", 1.0),
      (ts("2016-10-07 00:05:00"), "A", 2.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT _time, _field FROM deduped")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)))
    assert(rows.count(_ == ("2016-10-07 00:00:00.0", "A")) == 1)
    assert(rows.count(_ == ("2016-10-07 00:05:00.0", "A")) == 1)
    assert(rows.length == 2)
  }

  test("stream-stream interval join pairs readings within the window only") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val long = input.toDF().toDF("_time", "_field", "_value")
      .withColumn("_measurement", org.apache.spark.sql.functions.lit("gas"))

    val q = GasStream.pairedReadings(long, "CO", "HUM",
        watermark = "10 minutes", withinMinutes = 5)
      .writeStream.outputMode("append")
      .format("memory").queryName("paired").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (ts("2016-10-07 00:04:00"), "HUM", 40.0), // 1 min before CO → pairs
      (ts("2016-10-07 00:05:00"), "CO", 1.5),
      (ts("2016-10-07 00:06:00"), "HUM", 41.0), // AFTER the CO reading → no
      (ts("2016-10-07 00:30:00"), "HUM", 42.0)) // far outside → no
    q.processAllAvailable()
    // advance watermarks so pending matches flush
    input.addData((ts("2016-10-07 01:00:00"), "CO", 9.9))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT a_value, b_value FROM paired")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(rows.contains((1.5, 40.0)))
    assert(!rows.contains((1.5, 41.0)) && !rows.contains((1.5, 42.0)))
  }

  test("streaming EMA equals the sequential recursion across batches; stale stragglers drop") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val long = input.toDF().toDF("_time", "_field", "_value")

    val q = GasStream.emaStream(long, k = 0.2)
      .writeStream.outputMode("append")
      .format("memory").queryName("ema").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: three A points OUT OF ORDER inside the batch (must be
    // applied time-sorted) and one B point
    input.addData(
      (ts("2016-10-07 00:02:00"), "A", 20.0),
      (ts("2016-10-07 00:01:00"), "A", 10.0),
      (ts("2016-10-07 00:03:00"), "A", 40.0),
      (ts("2016-10-07 00:01:00"), "B", 7.0))
    q.processAllAvailable()
    // batch 2: A continues — recursion must resume from batch-1 state —
    // and a STALE A straggler (behind the last applied point) must drop
    input.addData(
      (ts("2016-10-07 00:04:00"), "A", 40.0),
      (ts("2016-10-07 00:00:30"), "A", 999.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.sql("SELECT _field, ts_us, value, ema, n FROM ema")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4)))

    // the reference recursion over the time-ordered A series 10, 20, 40, 40
    val k = 0.2
    val xs = Seq(10.0, 20.0, 40.0, 40.0)
    val want = xs.tail.scanLeft(xs.head)((p, x) => k * x + (1 - k) * p)
    val gotA = got.filter(_._1 == "A").sortBy(_._2)
    assert(gotA.map(_._3) sameElements Array(10.0, 20.0, 40.0, 40.0),
      s"A points applied out of order or straggler kept: $gotA")
    gotA.map(_._4).zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-12, s"stream EMA $g vs recursion $w")
    }
    assert(gotA.map(_._5) sameElements Array(1L, 2L, 3L, 4L))
    assert(!got.exists(_._3 == 999.0), "stale straggler was applied")
    assert(got.count(_._1 == "B") == 1 && got.find(_._1 == "B").get._4 == 7.0)
  }

  test("state-run history closes a run opened in an EARLIER batch; open tail withheld") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val long = input.toDF().toDF("_time", "_field", "_value")
    val q = GasStream.stateRuns(long)
      .writeStream.outputMode("append")
      .format("memory").queryName("runs").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: two points in bucket 1 — run stays open across the boundary
    input.addData(
      (ts("2016-10-07 00:01:00"), "A", 12.0),
      (ts("2016-10-07 00:02:00"), "A", 15.0))
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM runs").count() == 0,
      "open run emitted before any status change")
    // batch 2: bucket change closes it; then another change; tail open
    input.addData(
      (ts("2016-10-07 00:03:00"), "A", 27.0),  // closes bucket-1 run
      (ts("2016-10-07 00:04:00"), "A", 31.0),  // closes bucket-2 run
      (ts("2016-10-07 00:05:00"), "A", 33.0))  // open bucket-3 tail
    q.processAllAvailable()
    q.stop()

    val got = spark.sql(
      "SELECT status, start_us, end_us, n_points FROM runs ORDER BY start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def us(s: String) = ts(s).getTime * 1000L
    assert(got.toSeq == Seq(
      (1L, us("2016-10-07 00:01:00"), us("2016-10-07 00:02:00"), 2L),
      (2L, us("2016-10-07 00:03:00"), us("2016-10-07 00:03:00"), 1L)),
      s"closed runs wrong: ${got.toSeq}")
  }

  test("streaming CUSUM equals the batch kernel across batches, incl. alarm reset") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val long = input.toDF().toDF("_time", "_field", "_value")

    // μ=10, k=1, h=5: x=20 drives S⁺ to 9 > 5 (alarm), the next point
    // must restart from 0 — and the alarm fires in a LATER batch than the
    // points that built up the sum, so reset state crosses the boundary
    val q = GasStream.cusumStream(long, mu = 10.0, k = 1.0, h = 5.0)
      .writeStream.outputMode("append")
      .format("memory").queryName("cusum").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (ts("2016-10-07 00:01:00"), "A", 12.0),
      (ts("2016-10-07 00:02:00"), "A", 13.0))
    q.processAllAvailable()
    input.addData(
      (ts("2016-10-07 00:03:00"), "A", 20.0), // S⁺ = 1+2+9 = 12 → alarm
      (ts("2016-10-07 00:04:00"), "A", 12.0)) // post-reset: S⁺ = 1
    q.processAllAvailable()
    q.stop()

    val got = spark.sql("SELECT ts_us, value, sp, sn, alarm FROM cusum ORDER BY ts_us")
      .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    val pts = Array(
      graft.operators.Cusum.Point(1L, 1L, 12.0),
      graft.operators.Cusum.Point(2L, 2L, 13.0),
      graft.operators.Cusum.Point(3L, 3L, 20.0),
      graft.operators.Cusum.Point(4L, 4L, 12.0))
    val want = graft.operators.Cusum.run(pts, 10.0, 1.0, 5.0)
      .map(s => (s.x, s.sp, s.sn, s.alarm))
    assert(got.toSeq == want,
      s"stream $got vs batch kernel $want")
    assert(got(2)._4 && !got(3)._4 && got(3)._2 == 1.0,
      s"alarm/reset sequence wrong: $got")
  }

  test("streaming rate: first point seeds, same-timestamp tie is inert, state carries, stragglers drop") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val long = input.toDF().toDF("_time", "_field", "_value")
    val q = GasStream.rateStream(long)
      .writeStream.outputMode("append")
      .format("memory").queryName("rate").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = ts(s).getTime * 1000L
    input.addData(
      (ts("2016-10-07 00:01:00"), "A", 10.0),  // seed: no rate yet
      (ts("2016-10-07 00:01:10"), "A", 20.0),  // (20-10)/10 s
      (ts("2016-10-07 00:01:00"), "B", 5.0))   // B's only point: seed only
    q.processAllAvailable()
    input.addData(
      (ts("2016-10-07 00:01:10"), "A", 99.0),  // tie on the last point: inert
      (ts("2016-10-07 00:00:30"), "A", 500.0), // straggler: dropped
      (ts("2016-10-07 00:01:20"), "A", 40.0))  // (40-20)/10 s, batch-1 state
    q.processAllAvailable()
    input.addData(
      (ts("2016-10-07 00:01:30"), "A", 70.0),  // (70-40)/10 s
      (ts("2016-10-07 00:01:30"), "A", 70.0))  // in-batch tie: no 2nd rate
    q.processAllAvailable()
    q.stop()

    val got = spark.sql("SELECT _field, ts_us, value, rate_per_s FROM rate ORDER BY ts_us")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("A", us("2016-10-07 00:01:10"), 20.0, 1.0),
      ("A", us("2016-10-07 00:01:20"), 40.0, 2.0),
      ("A", us("2016-10-07 00:01:30"), 70.0, 3.0)),
      s"rate stream wrong: ${got.toSeq}")
  }

  test("streaming alert fires at the 3rd point; a tied below-threshold point and an open episode are withheld") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val long = input.toDF().toDF("_time", "_field", "_value")
    val q = GasStream.alertStream(long, threshold = 50.0)
      .writeStream.outputMode("append")
      .format("memory").queryName("alerts").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = ts(s).getTime * 1000L
    input.addData(
      (ts("2016-10-07 00:01:00"), "A", 60.0),
      (ts("2016-10-07 00:02:00"), "A", 70.0),
      (ts("2016-10-07 00:01:00"), "B", 60.0),  // B: a 2-point blip,
      (ts("2016-10-07 00:02:00"), "B", 61.0),
      (ts("2016-10-07 00:03:00"), "B", 10.0))  // closed below 3 points
    q.processAllAvailable()
    input.addData((ts("2016-10-07 00:03:00"), "A", 65.0)) // 3rd point: fires
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM alerts").count() == 0,
      "an open episode or a sub-3-point blip was emitted")
    input.addData(
      (ts("2016-10-07 00:03:00"), "A", 10.0),  // tied on the last point: withheld
      (ts("2016-10-07 00:04:00"), "A", 80.0),  // the same episode goes on
      (ts("2016-10-07 00:05:00"), "A", 20.0),  // closes it
      (ts("2016-10-07 00:06:00"), "A", 90.0),  // a new episode fires ...
      (ts("2016-10-07 00:07:00"), "A", 91.0),
      (ts("2016-10-07 00:08:00"), "A", 92.0))  // ... and stays open
    q.processAllAvailable()
    q.stop()

    val got = spark.sql("SELECT _field, fire_us, clear_us, n_points, peak FROM alerts")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq == Seq(
      ("A", us("2016-10-07 00:03:00"), us("2016-10-07 00:04:00"), 4L, 80.0)),
      s"alert episodes wrong: ${got.toSeq}")
  }

  test("streaming Kalman equals Kalman.step/round6 across a batch boundary") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val long = input.toDF().toDF("_time", "_field", "_value")
    val q = GasStream.kalmanStream(long, q = 0.5, r = 4.0)
      .writeStream.outputMode("append")
      .format("memory").queryName("kalman").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (ts("2016-10-07 00:02:00"), "A", 12.3),  // out of order in the batch
      (ts("2016-10-07 00:01:00"), "A", 10.0),
      (ts("2016-10-07 00:01:00"), "B", 3.0))
    q.processAllAvailable()
    input.addData(
      (ts("2016-10-07 00:03:00"), "A", 11.1),
      (ts("2016-10-07 00:04:00"), "A", 15.7))
    q.processAllAvailable()
    q.stop()

    val got = spark.sql(
        "SELECT value, x_hat, p_var, k_gain FROM kalman WHERE _field = 'A' ORDER BY ts_us")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    import graft.operators.Kalman
    val zs = Seq(10.0, 12.3, 11.1, 15.7)
    val seed = (zs.head, Kalman.round6(zs.head), Kalman.round6(4.0), 1.0)
    val want = zs.tail.scanLeft(seed) { case ((_, x, p, _), z) =>
      val (x1, p1, k) = Kalman.step(x, p, z, 0.5, 4.0)
      (z, x1, p1, k)
    }
    assert(got.toSeq == want, s"stream ${got.toSeq} vs Kalman.step $want")
    val pts = zs.zipWithIndex.map { case (z, i) => Kalman.Point(i.toLong, i.toLong, z) }
    assert(want == Kalman.run(pts.toArray, 0.5, 4.0).map(s => (s.z, s.xHat, s.p, s.kGain)))
    assert(spark.sql("SELECT * FROM kalman WHERE _field = 'B'").count() == 1)
  }

  test("transformWithState CUSUM twin emits the identical sequence across batches") {
    // same fixture and batch split as the default-store CUSUM test above,
    // now run by the one kernel (cusumStream) on the RocksDB state store
    // that the retired transformWithState twin required: the sequence must
    // be identical on both providers, state carry-over and alarm reset
    // included.
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(java.sql.Timestamp, String, Double)]
      val long = input.toDF().toDF("_time", "_field", "_value")
      val q = GasStream.cusumStream(long, mu = 10.0, k = 1.0, h = 5.0)
        .writeStream.outputMode("append")
        .format("memory").queryName("cusum_tws").start()
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (ts("2016-10-07 00:01:00"), "A", 12.0),
        (ts("2016-10-07 00:02:00"), "A", 13.0))
      q.processAllAvailable()
      input.addData(
        (ts("2016-10-07 00:03:00"), "A", 20.0),
        (ts("2016-10-07 00:04:00"), "A", 12.0))
      q.processAllAvailable()
      q.stop()
      val got = spark.sql(
          "SELECT ts_us, value, sp, sn, alarm FROM cusum_tws ORDER BY ts_us")
        .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3),
          r.getBoolean(4)))
      val pts = Array(
        graft.operators.Cusum.Point(1L, 1L, 12.0),
        graft.operators.Cusum.Point(2L, 2L, 13.0),
        graft.operators.Cusum.Point(3L, 3L, 20.0),
        graft.operators.Cusum.Point(4L, 4L, 12.0))
      val want = graft.operators.Cusum.run(pts, 10.0, 1.0, 5.0)
        .map(s => (s.x, s.sp, s.sn, s.alarm))
      assert(got.toSeq == want, s"tws stream $got vs batch kernel $want")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("last-value as-of enrichment: same-instant pairing, reach-back, batch carry, straggler drop") {
    // gs34's kernel (GasStream.lastValueEnrichStream) on a hand-built
    // stream: (1) a target BEFORE any valid context emits NULL context;
    // (2) a target at the SAME instant as a valid context sees it (as-of
    // is <=, context sorts first); (3) an INVALID context (below ctxMin)
    // never enters state, so later targets reach BACK across it — and
    // across the micro-batch boundary; (4) a straggler older than the
    // last applied point is dropped by the monotone guard.
    // Run on the RocksDB state store, as the kill/restart legs are.
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(java.sql.Timestamp, String, String, Double)]
      val long = input.toDF().toDF("_time", "_measurement", "_field", "_value")
      val q = GasStream.lastValueEnrichStream(long, "CO", "H", ctxMin = 50.0)
        .writeStream.outputMode("append")
        .format("memory").queryName("asof_enrich").start()
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      def us(s: String) = {
        val t = ts(s)
        Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      }
      input.addData(
        (ts("2016-10-07 00:01:00"), "g", "H", 40.0),  // invalid: filtered
        (ts("2016-10-07 00:01:00"), "g", "CO", 1.0),  // no context yet
        (ts("2016-10-07 00:02:00"), "g", "H", 60.0),  // valid
        (ts("2016-10-07 00:02:00"), "g", "CO", 2.0))  // same-instant pair
      q.processAllAvailable()
      input.addData(
        (ts("2016-10-07 00:03:00"), "g", "H", 45.0),  // invalid: filtered
        (ts("2016-10-07 00:03:00"), "g", "CO", 3.0),  // reaches back to 00:02
        (ts("2016-10-07 00:00:30"), "g", "CO", 9.0),  // straggler: dropped
        (ts("2016-10-07 00:04:00"), "g", "CO", 4.0))  // still 00:02's context
      q.processAllAvailable()
      input.addData(
        (ts("2016-10-07 00:05:00"), "g", "H", 70.0),
        (ts("2016-10-07 00:06:00"), "g", "CO", 5.0))  // new context applies
      q.processAllAvailable()
      q.stop()
      val got = spark.sql(
          "SELECT t_us, v, ctx_us, ctx FROM asof_enrich ORDER BY t_us")
        .collect().map(r => (r.getLong(0), r.getDouble(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      val want = Seq(
        (us("2016-10-07 00:01:00"), 1.0, None, None),
        (us("2016-10-07 00:02:00"), 2.0, Some(us("2016-10-07 00:02:00")), Some(60.0)),
        (us("2016-10-07 00:03:00"), 3.0, Some(us("2016-10-07 00:02:00")), Some(60.0)),
        (us("2016-10-07 00:04:00"), 4.0, Some(us("2016-10-07 00:02:00")), Some(60.0)),
        (us("2016-10-07 00:06:00"), 5.0, Some(us("2016-10-07 00:05:00")), Some(70.0)))
      assert(got.toSeq == want, s"enrich stream $got vs $want")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }
}
