package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * The declared-query workloads: streaming replays, whose cost is the
 * micro-batch machinery, and batch queries (Catalyst, AQE, shuffle and the
 * pipeline operators, no micro-batches), together in `replay` or alone in
 * `stream_replay` and `batch_queries`. Each query's result is materialized
 * in full through the noop sink.
 *
 * Order of a run: one untimed warm-up pass, then timed passes, each in a
 * seeded order. Every pass compares each result's row count and
 * order-insensitive digest with the result verified against DuckDB when
 * the benchmark was built ([[verify]]).
 */
object Replay {

  /** A group of queries reported together; `family` is `stream` or `batch`. */
  final case class Group(family: String, name: String, queries: Seq[String])

  /** Query groups in report order. Each group keeps queries that reach
    * distinct layers; the other declared queries of these families are
    * left out, because every run pays a cold pass plus a timed pass and
    * all runs must fit the benchmark's time budget on a shared 4-core
    * machine. */
  val StreamGroups: Seq[Group] = Seq(
    Group("stream", "log", Seq("q_stream", "q_stream_tail")),
    Group("stream", "stateful", Seq("q_stream_window")),
    Group("stream", "join", Seq("q_stream_join")))
  val BatchGroups: Seq[Group] = Seq(
    Group("batch", "point", Seq("q_range", "q_point", "q_tail")),
    Group("batch", "relational", Seq("q_tpch1", "q_join3", "q_window", "q_skewjoin")),
    Group("batch", "pipeline", Seq("q_minhash_lsh", "q_hnsw_idx", "q_curate")))

  /** `replay` runs both families in one session, so that each run pays
    * the JVM start and Spark's first-query class loading once; the other
    * two run one family alone. */
  val Workloads: Map[String, Seq[Group]] = Map(
    "replay"        -> (StreamGroups ++ BatchGroups),
    "stream_replay" -> StreamGroups,
    "batch_queries" -> BatchGroups)

  /** Seconds of `--seconds` per timed pass. The pass count is fixed by
    * `--seconds` alone, not by a clock, so every run takes the same number
    * of samples per query however fast the host is. */
  val PassSeconds = 20
  def timedPasses(seconds: Int): Int = math.max(1, seconds / PassSeconds)

  /** One query execution in a timed pass (wall-clock ms). */
  final case class Run(name: String, pass: Int, traced: Boolean, startMs: Long, execStartMs: Long, endMs: Long,
      seconds: Double, req: Long, buildSpan: Int, execSpan: Int)

  /**
   * Verification against DuckDB, once per build: `graft.Verify` writes
   * every result of the declared queries above, `scripts/check.py` compares
   * them with the oracle, and each result's row count and digest are kept
   * beside the build. Every run compares its own results with those.
   */
  def verify(o: Opts): Unit = {
    val all       = (StreamGroups ++ BatchGroups).flatMap(_.queries)
    val verifyDir = s"${o.work}/verify"
    Main.session(o)
    graft.Verify.main((Seq(o.data, verifyDir) ++ all).toArray) // stops the session
    val oracleSql = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$verifyDir/oracle_sql.json"))
    val checked = checkWithDuckDb(o, verifyDir, all.filter(n => oracleSql.has(n)))
    val spark   = Main.session(o)
    val entries = all.map { n =>
      val d = try Some(digest(spark.read.parquet(s"$verifyDir/$n")))
              catch { case NonFatal(e) => System.err.println(s"[perfbench] $n: no verified result: $e"); None }
      val ok = d.exists(_._1 > 0) && checked.getOrElse(n, true)
      s"""${Main.str(n)}:{"rows":${d.map(_._1).getOrElse(-1L)},"digest":${Main.str(d.map(_._2.toString).getOrElse(""))},"ok":$ok}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.cache, "verified.json"), entries.mkString("{", ",", "}"))
    spark.stop()
  }

  def run(o: Opts): Result = {
    val groups    = Workloads(o.workload)
    val names     = groups.flatMap(_.queries)
    val groupOf   = groups.flatMap(g => g.queries.map(_ -> g)).toMap
    var attempted = 0L
    var failed    = 0L

    val verified: Map[String, Option[(Long, BigDecimal)]] = {
      val j = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(s"${o.cache}/verified.json"))
      names.map { n =>
        val e = j.path(n)
        n -> (if (e.path("ok").asBoolean(false)) Some((e.get("rows").asLong, BigDecimal(e.get("digest").asText))) else None)
      }.toMap
    }
    for (n <- names if verified(n).isEmpty) System.err.println(s"[perfbench] $n failed verification against DuckDB")
    attempted += names.size
    failed += verified.count(_._2.isEmpty)
    val spark = Main.session(o)

    val events = new SparkEvents
    val spans  = new Spans(10000)
    val runs   = ArrayBuffer.empty[Run]

    def pass(p: Int, traced: Boolean): Unit =
      for (name <- new scala.util.Random(o.seed * 1000003L + p).shuffle(names))
        if (traced) SparkEvents.tracing(spark, events)(execute(name, p, traced = true))
        else execute(name, p, traced = false)

    def execute(name: String, p: Int, traced: Boolean): Unit = {
      val req    = p * 1000L + names.indexOf(name)
      val qSpan  = if (traced) spans.open("query", -1, req) else -1
      val t0     = System.nanoTime()
      val startMs = System.currentTimeMillis()
      var execStartMs = startMs
      var ok = false
      var bSpan, eSpan = -1
      try {
        bSpan = if (traced) spans.open("build", qSpan, req) else -1
        val df    = graft.SparkEntry.queries(name)(spark, o.data)
        spans.close(bSpan)
        execStartMs = System.currentTimeMillis()
        eSpan = if (traced) spans.open("exec", qSpan, req) else -1
        val obs   = Observation(s"perfbench_${p}_${traced}_$name")
        val cs    = digestColumns(df)
        df.observe(obs, cs.head, cs.tail: _*)
          .write.format("noop").mode("overwrite").save()
        spans.close(eSpan)
        val m = obs.get
        val got = (m("n").asInstanceOf[Long], BigDecimal(Option(m("h")).map(_.toString).getOrElse("0")))
        ok = verified(name).contains(got)
        if (!ok) System.err.println(s"[perfbench] $name pass $p: result $got differs from verified ${verified(name)}")
      } catch {
        case NonFatal(e) => System.err.println(s"[perfbench] $name pass $p failed: $e")
      }
      spans.close(qSpan)
      runs += Run(name, p, traced, startMs, execStartMs, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9,
        req, bSpan, eSpan)
      attempted += 1
      if (!ok) failed += 1
    }

    pass(-1, traced = false) // warm-up
    val setupS = (System.currentTimeMillis() - Main.jvmStartMs) / 1000.0
    Heap.armed = true
    val (gc0ms, gc0n) = Main.gcTotals
    // a traced run times one untraced and one traced pass, in an order set
    // by the seed's parity, so that the later pass's extra warmth cancels
    // out of the tracing overhead over seeds
    val passes     = if (o.trace) 2 else timedPasses(o.seconds)
    val tracedPass = if (!o.trace) -1 else if (o.seed % 2 == 0) 1 else 0
    for (p <- 0 until passes) pass(p, traced = p == tracedPass)
    Heap.armed = false
    val (gc1ms, gc1n) = Main.gcTotals

    val timedRuns = runs.filter(r => !r.traced && r.pass >= 0)
    val medians   = names.map(n => n -> Main.median(timedRuns.filter(_.name == n).map(_.seconds).toSeq)).toMap
    val groupSums = groups.map(g => s"${g.family}_${g.name}_s" -> g.queries.map(medians).sum)
    val slowest  = medians.values.toSeq.sorted.takeRight(math.max(1, names.size / 4))
    val endToEnd = Seq(
      "setup_s"           -> setupS,
      // the geometric mean weighs every query's relative change alike; a
      // median would sit in the gap between batch and streaming times
      "latency_ms"        -> math.exp(medians.values.map(math.log).sum / names.size) * 1000,
      "tail_ms"           -> slowest.sum / slowest.size * 1000)
    val named = Seq("setup_s" -> setupS, "failed_ops_ratio" -> failed.toDouble / attempted,
      "heap_live_peak_mb" -> Heap.peakMb) ++ groupSums

    val perLayer = if (!o.trace) Seq.empty else {
      val traced    = runs.filter(_.traced).toSeq
      // Spark jobs become child spans of the build or exec span they ran
      // in, so each span's self time is its driver-only share
      val msToNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      for (r <- traced; j <- events.jobsIn(r.startMs, r.endMs) if j.endMs >= 0)
        spans.add("spark_job", j.startMs * 1000000L + msToNs, j.endMs * 1000000L + msToNs,
          if (j.startMs < r.execStartMs) r.buildSpan else r.execSpan, r.req)
      val untracedS = timedRuns.map(_.seconds).sum
      layers(o, events, traced, groupOf, untracedS, gc1ms - gc0ms, gc1n - gc0n)
    }

    val detail = {
      val perQuery = names.map { n =>
        val rs = runs.filter(_.name == n)
        s"""${Main.str(n)}:{"group":${Main.str(groupOf(n).name)},"verified_rows":${verified(n).map(_._1).getOrElse(-1L)},""" +
          s""""verified":${verified(n).isDefined},"warmup_s":[${rs.filter(_.pass < 0).map(r => Main.num(r.seconds)).mkString(",")}],""" +
          s""""samples_s":[${rs.filter(r => !r.traced && r.pass >= 0).map(r => Main.num(r.seconds)).mkString(",")}],""" +
          s""""traced_s":[${rs.filter(_.traced).map(r => Main.num(r.seconds)).mkString(",")}]}"""
      }.mkString("{", ",", "}")
      val self = spans.selfTimes.toSeq.sortBy(_._1)
        .map { case (k, (d, s)) => s"""${Main.str(k)}:{"total_ms":${Main.num(d)},"self_ms":${Main.num(s)}}""" }
        .mkString("{", ",", "}")
      if (o.trace) spans.writeCsv(s"${o.work}/spans.csv")
      s"""{"queries":$perQuery,"untraced_passes":${passes - (if (o.trace) 1 else 0)},"span_self_ms":$self}"""
    }
    Result(attempted, failed, verified.values.forall(_.isDefined), Nil, endToEnd, perLayer, named, detail)
  }

  /** `scripts/check.py` against DuckDB on the same input; query -> rows and hash match. */
  private def checkWithDuckDb(o: Opts, verifyDir: String, names: Seq[String]): Map[String, Boolean] =
    if (names.isEmpty) Map.empty
    else {
      val json = s"${o.cache}/check.json"
      val pb = new ProcessBuilder((Seq("python3", "scripts/check.py", verifyDir, o.data, "--json", json) ++ names): _*)
        .redirectErrorStream(true)
        .redirectOutput(ProcessBuilder.Redirect.to(new java.io.File(s"${o.cache}/check.log")))
      pb.environment().put("PYTHONDONTWRITEBYTECODE", "1")
      val proc = pb.start()
      if (!proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)) { proc.destroyForcibly(); proc.waitFor() }
      val res = if (new java.io.File(json).isFile)
        Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(json))) else None
      names.map(n => n -> res.exists(r => r.has(n) && r.get(n).path("hash_match").asBoolean(false))).toMap
    }

  /** Row count and an order-insensitive digest: the sum of each row's hash
    * over its normalized columns. Floating-point values are rounded to 4
    * places, the same tolerance `scripts/check.py` applies, because
    * aggregation order is free to change their last bits between runs. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val cs  = digestColumns(df)
    val row = df.agg(cs.head, cs.tail: _*).head()
    (row.getLong(0), BigDecimal(Option(row.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)))
  }

  private def digestColumns(df: DataFrame): Seq[Column] = {
    val norm = df.schema.fields.toSeq.map(f => normalize(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    Seq(count(lit(1)).as("n"), sum(xxhash64(norm: _*).cast(DecimalType(38, 0))).as("h"))
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _)        => hasFloat(e)
    case StructType(fs)         => fs.exists(f => hasFloat(f.dataType))
    case MapType(_, _, _)       => true
    case _                      => false
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType         => round(c.cast(DoubleType), 4)
    case ArrayType(e, _) if hasFloat(e) => transform(c, x => normalize(x, e))
    case StructType(fs) if hasFloat(t)  => struct(fs.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(_, _, _)               => to_json(c)
    case _                              => c
  }

  /** The traced pass's per-layer metrics. Jobs, stages, micro-batch
    * progress and planning phases are attributed to a query when they
    * start inside its wall-clock window; queries run one at a time. */
  private def layers(o: Opts, ev: SparkEvents, traced: Seq[Run], groupOf: Map[String, Group],
      untracedS: Double, gcMs: Long, gcCount: Long): Seq[(String, Double)] = {
    val out = ArrayBuffer.empty[(String, Double)]

    for (grp <- StreamGroups ++ BatchGroups) {
      val g    = grp.name
      val rs   = traced.filter(r => groupOf.get(r.name).contains(grp))
      val jobs = rs.flatMap(r => ev.jobsIn(r.startMs, r.endMs))
      val plan = rs.map(r => ev.plansIn(r.execStartMs, r.endMs).map(_.planMs).sum.toDouble)
      val build = rs.map(r => (r.execStartMs - r.startMs).toDouble)
      val exec  = rs.map(r => (r.endMs - r.execStartMs).toDouble)
      val driverOnly = rs.map { r =>
        val js = ev.jobsIn(r.startMs, r.endMs).map(j => (j.startMs, if (j.endMs < 0) r.endMs else j.endMs))
        (r.endMs - r.startMs) - Spans.unionLength(js, r.startMs, r.endMs)
      }
      out ++= Seq(
        s"q.$g.build_ms"       -> build.sum,
        s"q.$g.plan_ms"        -> plan.sum,
        s"q.$g.exec_ms"        -> (exec.sum - plan.sum),
        s"q.$g.driver_only_ms" -> driverOnly.sum.toDouble)
      if (grp.family == "stream") {
        val prog = rs.flatMap(r => ev.progressIn(r.startMs, r.endMs).map(r.name -> _))
        out += s"stream.$g.batches" -> prog.size.toDouble
        for (ph <- SparkEvents.Phases) out += s"stream.$g.${ph}_ms" -> prog.map(_._2.durations.getOrElse(ph, 0L)).sum.toDouble
        val perQuery = prog.groupBy(_._1).values
        out ++= Seq(
          s"stream.$g.state.commit_ms" -> prog.map(_._2.stateCommitMs).sum.toDouble,
          s"stream.$g.state.rows"      -> perQuery.map(ps => ps.map(_._2.stateRows).max).sum.toDouble,
          s"stream.$g.state.mem_mb"    -> perQuery.map(ps => ps.map(_._2.stateMemB).max).sum / (1024.0 * 1024.0))
      } else {
        val stages = jobs.flatMap(_.stageIds).distinct.flatMap(ev.stage)
        val wallMs = rs.map(r => (r.endMs - r.startMs).toDouble).sum
        val taskMs = stages.map(_.taskMs).sum.toDouble
        val skew = stages.filter(_.tasks >= 2).map { s =>
          val d = s.taskDurations.sorted
          val med = d(d.size / 2)
          if (med > 0) s.maxTaskMs.toDouble / med else 1.0
        }
        val jobIv = jobs.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs))
        val union = Spans.unionLength(jobIv, Long.MinValue, Long.MaxValue)
        out ++= Seq(
          s"spark.$g.jobs"             -> jobs.size.toDouble,
          s"spark.$g.stages"           -> stages.size.toDouble,
          s"spark.$g.tasks"            -> stages.map(_.tasks).sum.toDouble,
          s"spark.$g.task_ms"          -> taskMs,
          s"spark.$g.core_busy_ratio"  -> (if (wallMs > 0) taskMs / (wallMs * o.cpus) else 0.0),
          s"spark.$g.task_skew_max"    -> (if (skew.isEmpty) 0.0 else skew.max),
          s"spark.$g.shuffle_read_mb"  -> stages.map(_.shuffleReadB).sum / (1024.0 * 1024.0),
          s"spark.$g.shuffle_write_mb" -> stages.map(_.shuffleWriteB).sum / (1024.0 * 1024.0),
          s"spark.$g.spill_mb"         -> stages.map(_.spillB).sum / (1024.0 * 1024.0),
          s"spark.$g.job_overlap"      -> (if (union > 0) jobIv.map(j => j._2 - j._1).sum.toDouble / union else 0.0))
      }
    }
    val tracedS = traced.map(_.seconds).sum
    out ++= SparkEvents.jobMsByModule(traced.flatMap(r => ev.jobsIn(r.startMs, r.endMs)))
    out ++= Seq(
      "jvm.heap_live_peak_mb" -> Heap.peakMb,
      "jvm.gc_ms"          -> gcMs.toDouble,
      "jvm.gc_count"       -> gcCount.toDouble,
      "trace.overhead_pct" -> (if (untracedS > 0) (tracedS - untracedS) / untracedS * 100 else 0.0))
    out.toSeq
  }
}
