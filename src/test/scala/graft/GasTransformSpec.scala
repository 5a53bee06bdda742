package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ingest.GasIngest
import graft.schema.GasSchema
import graft.store.LongStore
import graft.transform.GasTransform

/** Pins the reference's transform semantics (SURVEY.md §1.4, §5 item 2). */
class GasTransformSpec extends SparkSpec {

  private def fixtures = GasIngest.readFiles(spark,
    GasIngest.listDayFiles(spark, getClass.getResource("/gas").getPath))

  test("fixture read: pinned 20-double schema + file_name column") {
    val df = fixtures
    assert(df.schema.fields.count(_.dataType.typeName == "double") == 20)
    assert(df.columns.contains("file_name"))
    assert(df.count() == 16) // 10 + 6 rows
  }

  test("24h filter keeps the t=86400 boundary row, drops later rows") {
    val kept = GasTransform.truncate24h(fixtures)
      .select(col(s"`${GasSchema.timeCol}`").as("t"))
      .collect().map(_.getDouble(0)).toSet
    assert(kept.contains(86400.0))   // <=, not < (transform.py:22)
    assert(!kept.contains(86400.857))
    assert(!kept.contains(90000.0))
    assert(kept.size == 14)
  }

  test("timestamp: filename date at midnight + seconds; HHMMSS ignored; µs kept") {
    val out = GasTransform(fixtures)
      .select(col("file_name"), col(s"`${GasSchema.timeCol}`").as("t"), col("_time"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getTimestamp(2)).toMap
    // file 20161007_210049: day starts 00:00:00 even though HHMMSS=210049
    assert(out(("20161007_210049.csv", 0.0)) == Timestamp.valueOf("2016-10-07 00:00:00"))
    // fractional seconds → microseconds
    assert(out(("20161007_210049.csv", 0.2857)) == Timestamp.valueOf("2016-10-07 00:00:00.2857"))
    // boundary row = exactly next midnight (the reference produced a
    // malformed string here; we produce a real timestamp)
    assert(out(("20161007_210049.csv", 86400.0)) == Timestamp.valueOf("2016-10-08 00:00:00"))
    // second file, other day
    assert(out(("20161008_120000.csv", 20.5)) == Timestamp.valueOf("2016-10-08 00:00:20.5"))
  }

  test("unpivot→pivot round-trip is the identity on the wide frame") {
    val wide = GasTransform(fixtures).drop("file_name")
    val long = LongStore.unpivot(wide)
    assert(long.columns.toSeq == Seq("_time", "_measurement", "_field", "_value", "_date"))
    assert(long.count() == wide.count() * 19) // 19 fields per point set
    assert(long.select("_measurement").distinct().collect().map(_.getString(0)).toSeq == Seq("gas"))

    val roundTrip = LongStore.pivot(long)
    val fields = GasSchema.sensorCols
    val a = wide.select(col("_time") +: fields.map(f => col(s"`$f`")): _*)
      .orderBy("_time").collect().toSeq
    val b = roundTrip.select(col("_time") +: fields.map(f => col(s"`$f`")): _*)
      .orderBy("_time").collect().toSeq
    assert(a == b)
  }
}
