package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import java.util.concurrent.locks.LockSupport


import graft.operators.EventLog.LogRange
import graft.sources.OffsetLogRegistry
import graft.streaming.{Api, OffsetLog, Watch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/**
 * The serving workload. An open-loop writer appends CloudEvent records to
 * an `OffsetLog` in the reference's ingest pattern: one batch of up to 50
 * records per poll, one poll a second. One closed-loop client issues a
 * seeded mix of `Api` reads; one `Watch.tail` subscription delivers every
 * appended record to this benchmark's `foreachBatch`. Every response is
 * checked against a model of the log built from the same seed, and the
 * watch must deliver every accepted offset once, in order, with the bytes
 * that were appended.
 *
 * The figures come from the reference's documented configuration (see
 * BASELINE.md): `ReadNextEvents(ctx, 50)` every 1 s, a 512 KiB record cap
 * and 1000-record segments. The records are graft's own CloudEvent
 * serialization of the committed events table, the bytes `Ingest.run`
 * appends.
 */
object Serve {

  /** Records per poll: the reference's `ReadNextEvents(ctx, 50)`. */
  val PollBatch = 50
  /** Poll period: the reference's 1 s poll interval plus a 10 ms stagger,
    * so that the polls of a window fall at evenly spaced phases of the
    * 100 ms watch trigger and delivery latency samples the whole trigger
    * interval rather than one arbitrary phase of it. */
  val PollPeriodMs = 1010L
  /** The reference's default segment size: a record is purged once two
    * more segments have filled after it. */
  val SegmentSize = 1000
  /** The reference's default record cap; one record per poll is padded
    * past it and must be rejected. */
  val MaxRecordBytes: Int = 512 * 1024
  val TriggerMs = 100
  /** A run whose writer falls further behind a poll's due time than one
    * trigger interval is marked invalid: its delivery latencies would
    * describe the harness, not the system. */
  val LatenessBoundMs: Double = TriggerMs.toDouble
  /** The warm-up window polls five times faster than the reference, so
    * that the watch's micro-batch path runs 25 batches, and is compiled,
    * before the measured window; its 5 s are counted in `setup_s`. */
  val WarmupPolls = 25
  val WarmupPeriodMs = 200L

  /** The committed events table as the CloudEvent records graft's ingest
    * writes to its log, in event order. */
  def eventRecords(spark: SparkSession, data: String): Array[Array[Byte]] = {
    val env = graft.operators.EventLog.envelope(graft.Tables.events(spark, data))
    graft.operators.EventLog.serialized(env).select("offset", "value").collect()
      .sortBy(_.getLong(0)).map(_.getString(1).getBytes(UTF_8))
  }

  /**
   * Seeded input of one run: windows of `windows(i)` polls each, served
   * back to back. Before the first window the log is filled with
   * `prefill` records, the state of a server that has run at the
   * reference's ingest ceiling for half a minute or more: both segments hold
   * records, offsets below `earliest` are purged, and the appends purge a
   * segment about half-way through the second window (the first measured
   * one). Records are the event records taken in order from a seeded
   * starting row; in each poll one seeded record is padded past the
   * record cap.
   */
  final class Input(events: Array[Array[Byte]], seed: Long, val windows: Seq[Int]) {
    val polls: Int = windows.sum
    val prefill: Int =
      math.max(0, 3 * SegmentSize - (windows.head + windows.lift(1).getOrElse(0) / 2) * (PollBatch - 1))
    val payloads: Array[Array[Byte]] = {
      val rnd   = new SplittableRandom(seed)
      val first = rnd.nextInt(events.length)
      val oversize = Array.fill(polls)(rnd.nextInt(PollBatch))
      Array.tabulate(prefill + polls * PollBatch) { i =>
        val rec = events((first + i) % events.length)
        val j   = i - prefill
        if (j < 0 || j % PollBatch != oversize(j / PollBatch)) rec
        else {
          val pad = MaxRecordBytes + 1 + rnd.nextInt(4096) - rec.length
          (new String(rec, UTF_8).dropRight(1) + ",\"padding\":\"" + "x" * pad + "\"}").getBytes(UTF_8)
        }
      }
    }
    val accepted: Array[Boolean] = payloads.map(_.length <= MaxRecordBytes)
    /** Payload of each offset the log will assign, in offset order. */
    val byOffset: Array[Array[Byte]] = payloads.zip(accepted).collect { case (p, true) => p }
    /** Record index behind each offset. */
    val recordOf: Array[Int] = accepted.indices.filter(accepted(_)).toArray
    /** First poll of each window, counted from the first window's start. */
    val firstPoll: Seq[Int] = windows.scanLeft(0)(_ + _).init
    /** Window of each poll. */
    val windowOf: Array[Int] = windows.indices.flatMap(w => Seq.fill(windows(w))(w)).toArray
    /** Poll that appends record `i`. */
    def pollOf(i: Int): Int = (i - prefill) / PollBatch
    /** Records of poll `p`. */
    def recordsOf(p: Int): Range = prefill + p * PollBatch until prefill + (p + 1) * PollBatch

    /** Retained range of a log whose latest offset is `latest`. */
    def earliest(latest: Long): Long = math.max(0L, (latest / SegmentSize - 1) * SegmentSize)
  }

  /** What one serving window measured. Delivery latency is kept per poll,
    * and the median is taken over the polls, so a transient stall moves
    * one poll's figure, not the run's. */
  final class Window(val polls: Int, val firstPoll: Int, val periodNs: Long, val spans: Option[Spans]) {
    val lateness  = new Hist
    val writes    = new Hist
    var rejected  = 0L
    val delivery  = Array.fill(polls)(new Hist)
    var readNs    = 0L
    val rowsPerBatch = new Hist
    var batches   = 0L
    var backlogMax = 0L
    // written by the subscriber, read once the subscription has stopped
    var delivered  = 0L
    var duplicates = 0L
    var mismatched = 0L
    var undelivered = 0L
    /** Call latency per request kind of the client's mix. */
    val kinds: Array[Hist] = Array.fill(Kinds)(new Hist)
    def handlers: Map[String, Hist] = kinds.indices.groupBy(handlerOf(_)).map { case (h, ks) =>
      val m = new Hist; ks.foreach(k => m.merge(kinds(k))); h -> m }
    /** Responses by status, in the order of [[Statuses]]. */
    val statusCount = new Array[Long](Statuses.length)
    var calls     = 0L
    // counted by the writer, the client and the main thread
    val attempted = new LongAdder
    val failed    = new LongAdder
    @volatile var startNs = Long.MaxValue
    var startMs   = 0L
    var readEndMs = 0L
    var endMs     = 0L
    var gc0, gc1  = (0L, 0L)
    def reads: Hist = { val h = new Hist; kinds.foreach(h.merge); h }
    /** Median over the polls of each poll's median delivery latency. */
    def deliveryP50Ms: Double = Main.median(delivery.toSeq.filter(_.count > 0).map(_.percentile(50) / 1e6))
    /** Delivery latency over every record of the window. A poll's records
      * mostly arrive in one batch, so a per-poll tail would only repeat
      * the poll's median. */
    def deliveryAll: Hist = { val h = new Hist; delivery.foreach(h.merge); h }
    /** Api reads per second of time spent inside the calls: the client's
      * checks between calls, which cost as much as the calls, are left out. */
    def readRate: Double = if (readNs > 0) calls * 1e9 / readNs else 0.0
    /** Api reads completed per second of the window, checks included. */
    def wallReadRate: Double = calls * 1000.0 / math.max(1L, readEndMs - startMs)
  }

  /** Every status the Api answers with. */
  val Statuses: Array[Int] = Array(200, 204, 400)

  def run(o: Opts): Result = {
    val spark  = Main.session(o)
    // window 0 is the warm-up; a traced run adds a traced window, before or
    // after the untraced one by the seed's parity, so that the later
    // window's extra warmth cancels out of the tracing overhead
    val input  = new Input(eventRecords(spark, o.data), o.seed, WarmupPolls +: Seq.fill(if (o.trace) 2 else 1)(o.seconds))
    val tracedAt = if (!o.trace) -1 else if (o.seed % 2 == 0) 2 else 1
    val spans  = new Spans(400000)
    val events = new SparkEvents
    val all    = serve(spark, o, input, i => if (i == tracedAt) Some(spans) else None, events)
    val warm   = all.head
    val w      = all(if (tracedAt == 1) 2 else 1)
    val traced = if (tracedAt > 0) Some(all(tracedAt)) else None
    val measured = all.tail

    val setupS   = (measured.head.startMs - Main.jvmStartMs) / 1000.0
    val readsPerS = w.readRate
    val lateMs   = measured.map(_.lateness.max).max / 1e6
    val valid    = lateMs <= LatenessBoundMs
    val invalid  =
      if (valid) Nil else Seq(f"writer ran $lateMs%.1f ms behind schedule (bound $LatenessBoundMs%.0f ms)")
    val attempted = all.map(_.attempted.sum).sum
    val failed    = all.map(_.failed.sum).sum
    val endToEnd = Seq(
      "setup_s"           -> setupS,
      "latency_ms"        -> w.deliveryP50Ms,
      "tail_ms"           -> w.deliveryAll.meanAbove(75) / 1e6)
    val named = Seq(
      "setup_s"               -> setupS,
      "failed_ops_ratio"      -> failed.toDouble / attempted,
      "heap_live_peak_mb"     -> Heap.peakMb,
      "watch_delivery_p50_ms" -> w.deliveryP50Ms,
      "watch_delivery_p99_ms" -> w.deliveryAll.percentile(99) / 1e6,
      "api_reads_per_s"       -> readsPerS,
      "api_read_p99_us"       -> w.reads.percentile(99) / 1e3,
      "writer_lateness_max_ms" -> lateMs)

    val perLayer = traced.map { t =>
      val ev = events
      val prog = ev.progressIn(t.startMs, t.endMs).filter(p => p.name == Subscription && p.inputRows > 0)
      def perBatch(ph: String): Double =
        if (prog.isEmpty) 0.0 else prog.map(_.durations.getOrElse(ph, 0L)).sum.toDouble / prog.size
      // the Api and OffsetLog spans have no children, so their self time
      // is the histograms' exact total; the span buffer may have filled
      Seq(
        "offsetlog.write.calls"  -> t.writes.count.toDouble,
        "offsetlog.write.p50_us" -> t.writes.percentile(50) / 1e3,
        "offsetlog.write.p99_us" -> t.writes.percentile(99) / 1e3,
        "offsetlog.rejected"     -> t.rejected.toDouble) ++
      t.handlers.toSeq.sortBy(_._1).flatMap { case (h, hist) => Seq(
        s"api.$h.calls"  -> hist.count.toDouble,
        s"api.$h.p50_us" -> hist.percentile(50) / 1e3,
        s"api.$h.p99_us" -> hist.percentile(99) / 1e3) } ++
      Statuses.indices.map(i => s"api.status_${Statuses(i)}" -> t.statusCount(i).toDouble) ++
      Seq(
        "watch.batches"            -> t.batches.toDouble,
        "watch.rows_per_batch_p50" -> t.rowsPerBatch.percentile(50)) ++
      SparkEvents.Phases.map(ph => s"watch.${ph}_ms" -> perBatch(ph)) ++
      Seq(
        "watch.backlog_max"    -> t.backlogMax.toDouble,
        "watch.undelivered"    -> t.undelivered.toDouble,
        "watch.duplicates"     -> t.duplicates.toDouble,
        "gen.lateness_p99_ms"  -> t.lateness.percentile(99) / 1e6,
        "gen.lateness_max_ms"  -> t.lateness.max / 1e6,
        "self.api_ms"          -> t.reads.totalMs,
        "self.offsetlog_ms"    -> t.writes.totalMs,
        "self.watch_batch_ms"  -> spans.selfTimes.get("watch.batch").map(_._2).getOrElse(0.0)) ++
      SparkEvents.jobMsByModule(ev.jobsIn(t.startMs, t.endMs)) ++
      Seq(
        "jvm.heap_live_peak_mb" -> Heap.peakMb,
        "jvm.gc_ms"            -> (measured.last.gc1._1 - measured.head.gc0._1).toDouble,
        "jvm.gc_count"         -> (measured.last.gc1._2 - measured.head.gc0._2).toDouble,
        "trace.overhead_pct"   -> (w.wallReadRate - t.wallReadRate) / w.wallReadRate * 100)
    }.getOrElse(Seq.empty)

    if (o.trace) spans.writeCsv(s"${o.work}/spans.csv")
    val detail =
      s"""{"poll_batch":$PollBatch,"poll_period_ms":$PollPeriodMs,"segment_size":$SegmentSize,""" +
        s""""prefill":${input.prefill},"windows":[${input.windows.mkString(",")}],""" +
        s""""warmup_attempted":${warm.attempted.sum},"warmup_failed":${warm.failed.sum},""" +
        s""""delivery_p50_per_poll_ms":[${w.delivery.map(h => Main.num(h.percentile(50) / 1e6)).mkString(",")}],""" +
        s""""api_wall_reads_per_s":${Main.num(w.wallReadRate)},""" +
        s""""api_kind_p50_us":[${w.kinds.map(h => Main.num(h.percentile(50) / 1e3)).mkString(",")}],""" +
        s""""writer_lateness_p99_ms":${Main.num(w.lateness.percentile(99) / 1e6)},"writer_lateness_max_ms":${Main.num(lateMs)},""" +
        s""""lateness_bound_ms":${Main.num(LatenessBoundMs)},"valid":$valid,"api_calls":${w.calls},""" +
        s""""watch_undelivered":${all.map(_.undelivered).sum},"watch_duplicates":${all.map(_.duplicates).sum},""" +
        s""""spans_dropped":${spans.dropped.get}}"""
    Result(attempted, failed, verified = true, invalid, endToEnd, perLayer, named, detail)
  }

  /** Name of the one watch subscription, and of the log it tails. */
  val Subscription = "perfbench_serve"

  /**
   * Serves `in` window after window on one log and one subscription, as
   * a server that keeps running does: the warm-up window leaves the log,
   * the subscription and the JIT as the measured windows find them.
   * Within a window the writer, the client and the watch run together.
   * Returns each window's figures once the watch has drained or given up.
   */
  private def serve(spark: SparkSession, o: Opts, in: Input, spansOf: Int => Option[Spans],
      events: SparkEvents): Seq[Window] = {
    val ws       = in.windows.indices.map(i =>
      new Window(in.windows(i), in.firstPoll(i), (if (i == 0) WarmupPeriodMs else PollPeriodMs) * 1000000L, spansOf(i)))
    val lastOffset = in.byOffset.length - 1L
    val log      = new OffsetLog(0L, SegmentSize, MaxRecordBytes.toLong)
    // the log as the server left it before the run; prefill records are
    // all under the cap, so record i is offset i
    for (i <- 0 until in.prefill) require(log.write(in.payloads(i)) == Right(i.toLong), s"prefill offset $i")
    val published = new AtomicLong(in.prefill - 1L)
    @volatile var current = ws.head

    // watch: the subscriber checks density, order and bytes as rows arrive;
    // the main thread polls `expectedNext` to see the watch drain
    val expectedNext = new AtomicLong(in.prefill.toLong)
    val q = Watch.tail(spark, Subscription, log, startingOffset = Some(in.prefill.toLong)).writeStream
      .queryName(Subscription)
      .trigger(Trigger.ProcessingTime(s"$TriggerMs milliseconds"))
      .option("checkpointLocation", graft.streaming.Ingest.ephemeralCheckpoint(Subscription))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val cw   = current
        val sp   = cw.spans.map(_.open("watch.batch", -1, id)).getOrElse(-1)
        val rows = batch.collect()
        val now  = System.nanoTime()
        cw.batches += 1
        cw.rowsPerBatch.record(rows.length.toLong)
        for (r <- rows) {
          val off  = r.getLong(0)
          val poll = in.pollOf(in.recordOf(off.toInt))
          val rw   = ws(in.windowOf(poll))
          if (off < expectedNext.get) rw.duplicates += 1
          else {
            rw.delivered += 1
            expectedNext.set(off + 1)
            rw.delivery(poll - rw.firstPoll).record(now - (rw.startNs + (poll - rw.firstPoll) * rw.periodNs))
            if (!java.util.Arrays.equals(r.getString(1).getBytes(UTF_8), in.byOffset(off.toInt))) rw.mismatched += 1
          }
        }
        cw.backlogMax = math.max(cw.backlogMax, published.get - (expectedNext.get - 1))
        cw.spans.foreach(_.close(sp))
        ()
      }
      .start()
    val ready = System.currentTimeMillis() + 60000
    while (!q.status.message.startsWith("Waiting for") && q.isActive && System.currentTimeMillis() < ready) Thread.sleep(10)

    def window(i: Int): Unit = {
      val w = ws(i)
      Heap.armed = i > 0
      w.gc0 = Main.gcTotals
      w.startMs = System.currentTimeMillis()
      w.startNs = System.nanoTime() + 5000000L
      current = w
      writeAndRead(in, log, published, w, o.seed * 31 + i)
      w.endMs = System.currentTimeMillis()
      w.gc1 = Main.gcTotals
    }
    for (i <- ws.indices) {
      if (ws(i).spans.isDefined) SparkEvents.tracing(spark, events)(window(i)) else window(i)
    }
    Heap.armed = false
    val drainUntil = System.currentTimeMillis() + 10000
    while (expectedNext.get <= lastOffset && q.isActive && System.currentTimeMillis() < drainUntil) Thread.sleep(20)
    q.stop()
    OffsetLogRegistry.remove(Subscription)
    for (w <- ws) {
      val expected = (w.firstPoll until w.firstPoll + w.polls).map(p => in.recordsOf(p).count(in.accepted(_))).sum
      w.undelivered = expected - w.delivered
      w.attempted.add(expected)
      w.failed.add(w.undelivered + w.duplicates + w.mismatched)
      if (w.undelivered + w.duplicates + w.mismatched > 0)
        System.err.println(s"[perfbench] window at poll ${w.firstPoll}: ${w.undelivered} undelivered, " +
          s"${w.duplicates} duplicates, ${w.mismatched} wrong bytes of $expected")
    }
    ws
  }

  /** One window's writer and client, run together until the writer's
    * last poll interval has passed. */
  private def writeAndRead(in: Input, log: OffsetLog, published: AtomicLong, w: Window, seed: Long): Unit = {
    @volatile var stop = false
    def parkUntil(due: Long): Unit = {
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
    }
    // each poll appends its batch back to back, as the reference's ingest
    // loop does; a record's due time is its poll's
    val writer = new Thread(() => {
      for (k <- 0 until w.polls) {
        val due = w.startNs + k * w.periodNs
        parkUntil(due)
        for (i <- in.recordsOf(w.firstPoll + k)) {
          val now = System.nanoTime()
          w.lateness.record(now - due)
          val sp = w.spans.map(_.open("offsetlog.write", -1, i.toLong)).getOrElse(-1)
          val res = log.write(in.payloads(i))
          w.spans.foreach(_.close(sp))
          w.writes.record(System.nanoTime() - now)
          res match {
            case Right(off) =>
              if (!in.accepted(i) || in.recordOf(off.toInt) != i) w.failed.increment()
              published.set(off)
            case Left(_) =>
              w.rejected += 1
              if (in.accepted(i)) w.failed.increment()
          }
          w.attempted.increment()
        }
      }
      parkUntil(w.startNs + w.polls * w.periodNs) // the last poll's interval belongs to the window too
    }, s"$Subscription-writer")
    val reader = new Thread(() => read(in, log, published, w, seed, () => stop), s"$Subscription-reader")
    writer.start()
    reader.start()
    writer.join()
    stop = true
    reader.join()
    w.readEndMs = System.currentTimeMillis()
  }

  private val NonNumeric = Array("abc", "12x", "", "<b>7</b>", "1.5", "9223372036854775808", "0x10", " 3")

  /** Request kinds of the client's seeded mix. The reference documents no
    * read mix, so every kind has the same share. */
  private final val GetInRange = 0; private final val GetPurged = 1; private final val GetFuture = 2
  private final val GetNonNumeric = 3; private final val GetPage = 4; private final val GetRange = 5
  private final val WatchFrom = 6; private final val WatchPurged = 7; private final val WatchBadParam = 8
  private final val WatchDefault = 9
  private final val Kinds = 10
  private val handlerOf: Array[String] =
    Array("getEvent", "getEvent", "getEvent", "getEvent", "getEvents", "range", "watch", "watch", "watch", "watch")

  /** The closed-loop client: one request at a time, each checked against
    * the model once its clock has stopped. */
  private def read(in: Input, log: OffsetLog, published: AtomicLong, w: Window, seed: Long,
      stopped: () => Boolean): Unit = {
    val rnd   = new SplittableRandom(seed)
    var req   = 0L
    // one request per call, so that the JIT compiles a request as a method
    // with its full profile rather than only the loop around it
    while (!stopped()) { request(in, log, published, w, rnd, req); req += 1 }
  }

  private def request(in: Input, log: OffsetLog, published: AtomicLong, w: Window,
      rnd: SplittableRandom, req: Long): Unit = {
    val lo     = published.get
    val purged = in.earliest(lo)
    val kind   = rnd.nextInt(Kinds)
    // a point read anywhere in the retained range; a watch resumed from
    // the last four polls, as a client reconnecting after a short break
    val off = kind match {
      case GetInRange               => purged + rnd.nextLong(lo - purged + 1)
      case WatchFrom                => math.max(purged, lo - rnd.nextInt(4 * PollBatch))
      case GetPurged | WatchPurged  => if (purged > 0) rnd.nextLong(purged) else -1L - rnd.nextInt(100)
      case GetFuture                => lo + 2 + rnd.nextInt(5000)
      case _                        => 0L
    }
    val bad = NonNumeric(rnd.nextInt(NonNumeric.length))
    val sp  = w.spans.map(_.open("api", -1, req)).getOrElse(-1)
    val c0  = System.nanoTime()
    val resp: Api.Response[Any] = kind match {
      case GetInRange | GetPurged | GetFuture => Api.getEvent(log, off.toString)
      case GetNonNumeric => Api.getEvent(log, bad)
      case GetPage       => Api.getEvents(log)
      case GetRange      => Api.range(log)
      case WatchFrom | WatchPurged => Api.watch(log, "true", Some(off.toString))
      case WatchBadParam => Api.watch(log, "yes", None)
      case _             => Api.watch(log, "true", None)
    }
    val c1 = System.nanoTime()
    w.spans.foreach(_.close(sp))
    w.kinds(kind).record(c1 - c0)
    w.readNs += c1 - c0
    w.statusCount(Statuses.indexOf(resp.status)) += 1
    w.calls += 1
    w.attempted.increment()
    if (!correct(in, kind, off, resp, lo, published.get + 1)) {
      w.failed.increment()
      System.err.println(s"[perfbench] api kind $kind offset $off: unexpected ${resp.status} (latest in [$lo, ${published.get + 1}])")
    }
  }

  /** Whether `resp` is a response the log could have given while its
    * latest offset moved from `lo` to at most `hi` during the call. */
  private def correct(in: Input, kind: Int, off: Long, resp: Api.Response[Any], lo: Long, hi: Long): Boolean = {
    def bytesOk(o: Long, b: Any): Boolean =
      o >= 0 && o < in.byOffset.length && java.util.Arrays.equals(b.asInstanceOf[Array[Byte]], in.byOffset(o.toInt))
    def suffixOk(recs: Seq[(Long, Array[Byte])], first: Long): Boolean =
      recs.nonEmpty && recs.head._1 == first && recs.last._1 >= lo && recs.last._1 <= hi &&
        recs.indices.forall(i => recs(i)._1 == first + i && bytesOk(recs(i)._1, recs(i)._2))
    val purgedDuring = off < 0 || off < in.earliest(hi)
    (kind, resp) match {
      case (GetInRange | GetPurged | GetFuture, Api.Ok(b)) =>
        off >= in.earliest(lo) && off <= hi && bytesOk(off, b)
      case (GetInRange | GetPurged | GetFuture, Api.BadRequest(m)) =>
        (m.endsWith("(out of range)") && purgedDuring) || (m.endsWith("(future offset)") && off > lo)
      case (GetNonNumeric, Api.BadRequest(m)) => m.startsWith("invalid offset: ")
      case (GetPage, Api.Ok(v)) =>
        val recs = v.asInstanceOf[Seq[(Long, Array[Byte])]]
        recs.nonEmpty && recs.size <= Api.PageSize &&
          recs.head._1 >= math.max(in.earliest(recs.last._1), recs.last._1 - Api.PageSize + 1) &&
          suffixOk(recs, recs.head._1)
      case (GetRange, Api.Ok(LogRange(e, l))) => l >= lo && l <= hi && e == in.earliest(l)
      case (WatchFrom, Api.Ok(v))             => suffixOk(v.asInstanceOf[Seq[(Long, Array[Byte])]], off)
      case (WatchFrom | WatchPurged, Api.BadRequest(m)) => m.endsWith("(out of range)") && purgedDuring
      case (WatchBadParam, Api.BadRequest(m)) => m.startsWith("invalid watch parameter")
      case (WatchDefault, Api.Ok(v))          => v.asInstanceOf[Seq[_]].isEmpty
      case _                                  => false
    }
  }
}
