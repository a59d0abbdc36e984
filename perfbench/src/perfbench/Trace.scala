package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Spans recorded around the benchmark's calls into each layer: name, start,
 * end, parent span and request id, in preallocated arrays so recording
 * allocates nothing. Written out once the run ends. Spans past `capacity`
 * are counted as dropped, never resized into.
 */
final class Spans(capacity: Int) {
  private val names  = new Array[String](capacity)
  private val starts = new Array[Long](capacity)
  private val ends   = new Array[Long](capacity)
  private val parent = new Array[Int](capacity)
  private val reqs   = new Array[Long](capacity)
  private val next   = new AtomicInteger(0)
  val dropped        = new AtomicLong(0)

  /** Open a span now; -1 when the buffer is full. */
  def open(name: String, parentId: Int, req: Long): Int = add(name, System.nanoTime(), 0L, parentId, req)

  def close(id: Int): Unit = if (id >= 0) ends(id) = System.nanoTime()

  def add(name: String, startNs: Long, endNs: Long, parentId: Int, req: Long): Int = {
    val i = next.getAndIncrement()
    if (i >= capacity) { dropped.incrementAndGet(); -1 }
    else {
      names(i) = name; starts(i) = startNs; ends(i) = endNs; parent(i) = parentId; reqs(i) = req
      i
    }
  }

  def size: Int = math.min(next.get, capacity)

  /** Per span name: total duration and self time (duration minus the part
    * of the span's interval covered by its children), in ms. */
  def selfTimes: Map[String, (Double, Double)] = {
    val n        = size
    val children = Array.fill(n)(ArrayBuffer.empty[(Long, Long)])
    for (i <- 0 until n if parent(i) >= 0 && parent(i) < n && ends(i) > 0)
      children(parent(i)) += ((starts(i), ends(i)))
    val acc = scala.collection.mutable.Map.empty[String, (Double, Double)]
    for (i <- 0 until n if ends(i) > 0) {
      val dur     = ends(i) - starts(i)
      val covered = Spans.unionLength(children(i).toSeq, starts(i), ends(i))
      val (d, s)  = acc.getOrElse(names(i), (0.0, 0.0))
      acc(names(i)) = (d + dur / 1e6, s + (dur - covered) / 1e6)
    }
    acc.toMap
  }

  def writeCsv(path: String): Unit = {
    val out = new java.io.PrintWriter(new java.io.BufferedWriter(new java.io.FileWriter(path)))
    try {
      out.println("id,name,start_ns,end_ns,parent,request_id")
      for (i <- 0 until size) out.println(s"$i,${names(i)},${starts(i)},${ends(i)},${parent(i)},${reqs(i)}")
    } finally out.close()
  }
}

object Spans {
  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def unionLength(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS  = Long.MinValue
    var curE  = Long.MinValue
    for ((s0, e0) <- ivs.sortBy(_._1)) {
      val s = math.max(s0, lo)
      val e = math.min(e0, hi)
      if (e > s) {
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One Spark job as the listener saw it. `module` is the graft source file
  * of the innermost graft frame in the job's call site, else `microbatch`
  * for a job a streaming query's batch description marks, else `other`. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int], module: String)

final class StageRec(val id: Int) {
  var tasks         = 0
  var taskMs        = 0L
  var maxTaskMs     = 0L
  val taskDurations = ArrayBuffer.empty[Long]
  var shuffleReadB  = 0L
  var shuffleWriteB = 0L
  var spillB        = 0L
}

final case class ProgressRec(
    tsMs: Long,
    name: String,
    inputRows: Long,
    durations: Map[String, Long],
    stateCommitMs: Long,
    stateRows: Long,
    stateMemB: Long)

/** Planning phases of one executed QueryExecution (the tracker's
  * optimization + planning durations), stamped with its analysis start. */
final case class PlanRec(startMs: Long, planMs: Long)

/**
 * Collects Spark's public listener events for the traced run: jobs, stages
 * and tasks (`SparkListener`), micro-batch progress
 * (`StreamingQueryListener`) and query planning phases
 * (`QueryExecutionListener`). Events arrive on Spark's listener bus thread;
 * every read happens after `drain`.
 */
final class SparkEvents extends SparkListener {
  val jobs     = ArrayBuffer.empty[JobRec]
  val stages   = scala.collection.mutable.Map.empty[Int, StageRec]
  val progress = ArrayBuffer.empty[ProgressRec]
  val plans    = ArrayBuffer.empty[PlanRec]
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  private def moduleOf(details: String, description: String): String =
    details.linesIterator
      .find(l => l.contains("graft.") && !l.contains("perfbench."))
      .flatMap(l => "\\(([A-Za-z0-9_]+)\\.scala".r.findFirstMatchIn(l).map(_.group(1)))
      .getOrElse(if (description != null && description.contains("batch = ")) "microbatch" else "other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val description = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    jobs += JobRec(e.jobId, e.time, -1L, e.stageIds, result.map(s => moduleOf(s.details, description)).getOrElse("other"))
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
    val d  = e.taskInfo.duration
    st.tasks += 1
    st.taskMs += d
    st.maxTaskMs = math.max(st.maxTaskMs, d)
    st.taskDurations += d
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val st   = stages.getOrElseUpdate(info.stageId, new StageRec(info.stageId))
    val m    = info.taskMetrics
    if (m != null) {
      st.shuffleReadB = m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteB = m.shuffleWriteMetrics.bytesWritten
      st.spillB = m.memoryBytesSpilled + m.diskBytesSpilled
    }
    touch()
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = SparkEvents.this.synchronized {
      val p   = e.progress
      val ops = p.stateOperators
      val durations = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      progress += ProgressRec(
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        Option(p.name).getOrElse(""),
        p.numInputRows,
        durations,
        ops.map(_.commitTimeMs).sum,
        ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum)
      touch()
    }
  }

  val planning: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = SparkEvents.this.synchronized {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val planMs = Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
        plans += PlanRec(ph.values.map(_.startTimeMs).min, planMs)
      }
      touch()
    }
  }

  /** Wait until the listener bus has been quiet for `quietMs` (bounded). */
  def drain(quietMs: Long, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() - lastEventMs < quietMs && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  def jobsIn(lo: Long, hi: Long): Seq[JobRec] = synchronized(jobs.filter(j => j.startMs >= lo && j.startMs <= hi).toSeq)
  def progressIn(lo: Long, hi: Long): Seq[ProgressRec] = synchronized(progress.filter(p => p.tsMs >= lo && p.tsMs <= hi).toSeq)
  def plansIn(lo: Long, hi: Long): Seq[PlanRec] = synchronized(plans.filter(p => p.startMs >= lo && p.startMs <= hi).toSeq)
  def stage(id: Int): Option[StageRec] = synchronized(stages.get(id))
}

object SparkEvents {
  /** Modules Spark job time is reported for; any other is `other`. */
  val Modules: Seq[String] = Seq("EventFeed", "Ingest", "microbatch", "other")

  def jobMsByModule(jobs: Seq[JobRec]): Seq[(String, Double)] = {
    val done = jobs.filter(_.endMs >= 0)
    Modules.map { m =>
      s"jobs.$m.ms" -> done.filter(j => j.module == m || (m == "other" && !Modules.contains(j.module)))
        .map(j => j.endMs - j.startMs).sum.toDouble
    }
  }

  val Phases: Seq[String] = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  /** Run `f` with `ev` listening; waits for the listener bus to deliver
    * `f`'s events before detaching. */
  def tracing[A](spark: org.apache.spark.sql.SparkSession, ev: SparkEvents)(f: => A): A = {
    spark.sparkContext.addSparkListener(ev)
    spark.streams.addListener(ev.streaming)
    spark.listenerManager.register(ev.planning)
    try f
    finally {
      ev.drain(quietMs = 200)
      spark.listenerManager.unregister(ev.planning)
      spark.streams.removeListener(ev.streaming)
      spark.sparkContext.removeSparkListener(ev)
    }
  }
}
