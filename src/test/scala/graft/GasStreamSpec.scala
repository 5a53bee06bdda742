package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.streaming.runtime.{FileStreamSource,
  FileStreamSourceLog, StreamingQueryWrapper}

import graft.ingest.GasIngest
import graft.store.LongStore
import graft.streaming.GasStream

/** Streaming replay of the demo scenario (SURVEY.md §5 item 4): the
  * checkpoint acts as the ledger — re-running the AvailableNow query
  * processes only unseen files. */
class GasStreamSpec extends SparkSpec {

  private def resource(name: String): Path =
    Paths.get(getClass.getResource(s"/gas/$name").getPath)

  test("AvailableNow pipeline: checkpoint = ledger; incremental file pickup") {
    val work = Files.createTempDirectory("graft-stream")
    val input = Files.createDirectory(work.resolve("input"))
    val store = work.resolve("store").toString
    val ckpt = work.resolve("ckpt").toString

    Files.copy(resource("20161007_210049.csv"),
      input.resolve("20161007_210049.csv"), StandardCopyOption.REPLACE_EXISTING)

    val q1 = GasStream.pipeline(spark, input.toString, store, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(store).count() == 8 * 19)

    // re-run with same checkpoint and no new files → no new data
    val q2 = GasStream.pipeline(spark, input.toString, store, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(store).count() == 8 * 19)

    // add a file → only it is processed
    Files.copy(resource("20161008_120000.csv"),
      input.resolve("20161008_120000.csv"), StandardCopyOption.REPLACE_EXISTING)
    val q3 = GasStream.pipeline(spark, input.toString, store, ckpt)
    q3.awaitTermination()
    assert(spark.read.parquet(store).count() == 8 * 19 + 6 * 19)

    // the sink appends the partition manifest per micro-batch (round-14
    // verdict item 2): a STREAM-built store plans window queries through
    // readWindow exactly like a batch-built one — same rows, no throw on
    // a missing _manifest path
    import org.apache.spark.sql.functions.col
    val win = graft.store.LongStore
      .readWindow(spark, store, "2016-10-07", "2016-10-08")
      .select(col("_time"), col("_field"), col("_value")).collect().toSet
    val full = spark.read.parquet(store)
      .select(col("_time"), col("_field"), col("_value")).collect().toSet
    assert(win == full,
      "manifest-planned read of the stream-built store diverged from full listing")
  }

  private val header = Files.readAllLines(resource("20161007_210049.csv")).get(0)

  /** Puts day files into `input`: a copy of a resource file per `name ->
    * Some(resource)`, a header-only file per `name -> None`. */
  private def put(input: Path, files: (String, Option[String])*): Unit =
    files.foreach {
      case (name, Some(res)) => Files.copy(resource(res), input.resolve(name))
      case (name, None) => Files.write(input.resolve(name), s"$header\n".getBytes("UTF-8"))
    }

  /** A day file whose every sample lies past 24 h, so it yields no rows. */
  private def putLate(input: Path, name: String): Unit =
    Files.write(input.resolve(name),
      s"$header\n90000.0${",1.0" * 19}\n90001.0${",2.0" * 19}\n".getBytes("UTF-8"))

  /** The stream store and the batch store built over `input` inside
    * `work`. A second call adds what is new to both. */
  private def bothStores(input: Path, work: Path): (String, String) = {
    val (stream, batch) = (work.resolve("stream").toString, work.resolve("batch").toString)
    GasStream.pipeline(spark, input.toString, stream, work.resolve("ckpt").toString)
      .awaitTermination()
    GasPipeline.runBatch(spark, input.toString, batch, work.resolve("ledger").toString)
    (stream, batch)
  }

  /** A frame's rows as a sorted list, so duplicates count. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def manifest(store: String): Seq[String] =
    rows(spark.read.parquet(s"$store/_manifest").distinct())

  test("glob metacharacters in file names: the stream store is row-identical to the batch store") {
    val work = Files.createTempDirectory("graft-stream-glob")
    val input = Files.createDirectory(work.resolve("input"))
    put(input, "20161007_210049 copy.csv" -> Some("20161007_210049.csv"),
      "20161007_210049[1].csv" -> Some("20161007_210049.csv"),
      "20161008_120000.csv" -> Some("20161008_120000.csv"),
      "20161009_000000.csv" -> None)
    putLate(input, "20161010_000000.csv")
    val (stream, batch) = bothStores(input, work)

    val window = (s: String) => LongStore.readWindow(spark, s, "2016-10-07", "2016-10-10")
    assert(window(batch).count() == 2 * 8 * 19 + 6 * 19)
    assert(rows(window(stream)) == rows(window(batch)),
      "a file of a batch holding a glob-named file was read twice")
  }

  test("zero-row files: the stream records them in _manifest as the batch does") {
    val work = Files.createTempDirectory("graft-stream-empty")
    val input = Files.createDirectory(work.resolve("input"))
    put(input, "20161007_210049.csv" -> Some("20161007_210049.csv"),
      "20161009_000000.csv" -> None)
    putLate(input, "20161010_000000.csv")
    val (stream, batch) = bothStores(input, work)
    assert(manifest(stream).length == 3)
    assert(manifest(stream) == manifest(batch))
    assert(rows(spark.read.parquet(stream)) == rows(spark.read.parquet(batch)))
    assert(LongStore.readWindow(spark, stream, "2016-10-09", "2016-10-10").count() == 0)

    // a micro-batch of a header-only file alone still commits its name
    put(input, "20161011_000000.csv" -> None)
    bothStores(input, work)
    assert(manifest(stream).length == 4)
    assert(manifest(stream) == manifest(batch))
  }

  test("the sink reads its files through source-log compaction") {
    val work = Files.createTempDirectory("graft-stream-compact")
    val input = Files.createDirectory(work.resolve("input"))
    val (store, ckpt) = (work.resolve("store").toString, work.resolve("ckpt").toString)
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.fileSource.log.compactInterval", "2")
    val days = Seq("20161007_210049.csv", "20161008_120000.csv", "20161009_210049.csv")
    days.zipWithIndex.foreach { case (day, i) =>
      Files.copy(resource(if (i == 1) "20161008_120000.csv" else "20161007_210049.csv"),
        input.resolve(day))
      GasStream.pipeline(s, input.toString, store, ckpt).awaitTermination()
      assert(rows(spark.read.parquet(s"$store/_manifest").select("_src").distinct()) ==
        days.take(i + 1).map(d => s"[$d]"))
    }
    // batch 1's entry was read from the compacted log file
    assert(Files.exists(Paths.get(s"$ckpt/sources/0/1.compact")))
  }

  test("a crash between the source-log write and the offset-log write: the next batch commits both entries' files") {
    val work = Files.createTempDirectory("graft-stream-crash")
    val input = Files.createDirectory(work.resolve("input"))
    val (store, ckpt) = (work.resolve("store").toString, work.resolve("ckpt").toString)
    put(input, "20161007_210049.csv" -> Some("20161007_210049.csv"))
    GasStream.pipeline(spark, input.toString, store, ckpt).awaitTermination()

    // the file source logs a new file as entry 1, and the driver dies
    // before batch 1's offsets are written
    put(input, "20161008_120000.csv" -> Some("20161008_120000.csv"))
    val logged = GasIngest.listDayFiles(spark, input.toString).last
    val st = logged.path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(logged.path)
    new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark, s"$ckpt/sources/0")
      .add(1L, Array(FileStreamSource.FileEntry(
        SparkPath.fromFileStatus(st).urlEncoded, st.getModificationTime, 1L)))

    // the restart's batch 1 covers entry 1 and the new entry 2
    put(input, "20161009_210049.csv" -> Some("20161007_210049.csv"))
    GasStream.pipeline(spark, input.toString, store, ckpt).awaitTermination()
    assert(rows(spark.read.parquet(s"$store/_manifest").select("_src").distinct()) ==
      Seq("[20161007_210049.csv]", "[20161008_120000.csv]", "[20161009_210049.csv]"))
    assert(rows(LongStore.readWindow(spark, store, "2016-10-07", "2016-10-10")) ==
      rows(spark.read.parquet(store)))
    assert(spark.read.parquet(store).count() == 2 * 8 * 19 + 6 * 19)
  }

  test("a file in a subdirectory of the input fails the stream before any write, by name") {
    val work = Files.createTempDirectory("graft-stream-nested")
    val input = Files.createDirectory(work.resolve("input"))
    val store = work.resolve("store")
    put(input, "20161007_210049.csv" -> Some("20161007_210049.csv"))
    Files.createDirectory(input.resolve("late"))
    put(input.resolve("late"), "20161008_120000.csv" -> Some("20161008_120000.csv"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      GasStream.pipeline(spark, input.toString, store.toString,
        work.resolve("ckpt").toString).awaitTermination()
    }
    assert(e.getMessage.contains("late/20161008_120000.csv"), e.getMessage)
    assert(!Files.exists(store))
  }

  test("scan census: a micro-batch scans its files once, uncached") {
    val work = Files.createTempDirectory("graft-stream-scans")
    val input = Files.createDirectory(work.resolve("input"))
    val (store, ckpt) = (work.resolve("store").toString, work.resolve("ckpt").toString)
    // a session of its own, so only this test's queries reach the listener
    val s = spark.newSession()
    val census = new ScanCensus.Recorder(s)
    def oneBatch(files: Int): Unit = {
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      val sink = census.queries {
        q = GasStream.pipeline(s, input.toString, store, ckpt)
        q.awaitTermination()
      }.map(qe => ScanCensus.nodes(qe.executedPlan))
      assert(q.recentProgress.count(_.numInputRows > 0) == 1)
      val batch = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(ScanCensus.csvScans(batch.executedPlan).map(_.metrics("numFiles").value) ==
        Seq(files.toLong), "the micro-batch did not scan exactly its files")
      assert(!sink.flatten.exists(_.isInstanceOf[InMemoryTableScanExec]),
        "the sink cached the batch")
      assert(sink.count(_.exists(_.isInstanceOf[RDDScanExec])) == 1,
        "more than one sink query read the batch")
    }
    put(input, "20161007_210049.csv" -> Some("20161007_210049.csv"),
      "20161008_120000.csv" -> Some("20161008_120000.csv"))
    oneBatch(2)
    put(input, "20161009_210049.csv" -> Some("20161007_210049.csv"))
    oneBatch(1)
  }

  test("upsert state versioning: replayed batch re-merges against pre-batch state") {
    import org.apache.spark.sql.functions._
    val work = Files.createTempDirectory("graft-upsert-replay")
    val state = work.resolve("state").toString
    def batchDf(rows: (String, Long, Double)*) =
      spark.createDataFrame(rows).toDF("_field", "_time", "_value")
    def stateRows() = spark.read
      .parquet(GasStream.latestUpsertState(state))
      .orderBy(col("_field")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq

    val b0 = batchDf(("co", 10L, 1.0), ("co", 20L, 2.0), ("no2", 5L, 9.0))
    val b1 = batchDf(("co", 15L, 3.0), ("no2", 50L, 4.0))
    GasStream.upsertMergeBatch(b0, state, 0L)
    GasStream.upsertMergeBatch(b1, state, 1L)
    val expected = Seq(("co", 20L, 2.0), ("no2", 50L, 4.0))
    assert(stateRows() == expected)

    // at-least-once replay of batch 1 (crash after commit, retry): the
    // replay reads v0 — the pre-batch state — and recommits the same v1
    GasStream.upsertMergeBatch(b1, state, 1L)
    assert(stateRows() == expected)

    // crash MID-batch: a half-written v2 (no _SUCCESS) is invisible to
    // readers and discarded by the retry, which still reads v1
    val half = new java.io.File(state, "v2")
    half.mkdirs()
    Files.write(half.toPath.resolve("part-garbage.parquet"), Array[Byte](1, 2))
    assert(stateRows() == expected) // latest committed is still v1
    GasStream.upsertMergeBatch(batchDf(("co", 99L, 7.0)), state, 2L)
    assert(stateRows() == Seq(("co", 99L, 7.0), ("no2", 50L, 4.0)))

    // GC bounds the directory: at most the read-source + newest versions
    val vs = new java.io.File(state).listFiles().map(_.getName).sorted.toSeq
    assert(vs == Seq("v1", "v2"))
  }
}
