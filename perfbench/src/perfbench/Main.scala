package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run reports back to `run.py`. `verified` says whether
  * the outputs could be checked at all; `invalid` gives each reason the
  * run's figures describe the harness or the host rather than graft (the
  * outputs may still be correct). `endToEnd` holds the BENCHMARK.json
  * end-to-end metrics, `perLayer` the traced ones (empty when untraced),
  * `named` the workload's own named metrics and `detail` anything else
  * worth keeping in the run record. */
final case class Result(
    attempted: Long,
    failed: Long,
    verified: Boolean,
    invalid: Seq[String],
    endToEnd: Seq[(String, Double)],
    perLayer: Seq[(String, Double)],
    named: Seq[(String, Double)],
    detail: String)

/** Command-line options handed over by `run.py`. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, data: String, work: String,
    cache: String) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
}

/**
 * Benchmark JVM entry point: `perfbench.Main <workload> <seed> <seconds>
 * <trace 0|1> <dataDir> <workDir> <cacheDir> <resultFile>`. Runs one workload, writes
 * the result as JSON to `resultFile` and exits non-zero on an error.
 */
object Main {

  def main(args: Array[String]): Unit = {
    require(args.length == 8, "usage: perfbench.Main <workload> <seed> <seconds> <trace> <data> <work> <cache> <result>")
    val o = Opts(args(0), args(1).toLong, args(2).toInt, args(3) == "1", args(4), args(5), args(6))
    if (o.workload == "verify") return Replay.verify(o)
    Heap.install()
    val r = o.workload match {
      case "serve"                          => Serve.run(o)
      case w if Replay.Workloads.contains(w) => Replay.run(o)
      case w                                => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val json =
      s"""{"attempted":${r.attempted},"failed":${r.failed},"verified":${r.verified},""" +
        s""""invalid":${r.invalid.map(str).mkString("[", ",", "]")},""" +
        s""""end_to_end":${obj(r.endToEnd)},"per_layer":${obj(r.perLayer)},"workload_metrics":${obj(r.named)},""" +
        s""""detail":${r.detail}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(7)), json)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }

  /** The local session every workload runs in: graft's own configuration
    * at `local[nproc]`, with Spark's scratch space kept in `work`. */
  def session(o: Opts): SparkSession = {
    val s = graft.GraftSession
      .configure(
        SparkSession.builder()
          .master(s"local[${o.cpus}]")
          .appName("perfbench")
          .config("spark.sql.shuffle.partitions", o.cpus.toString)
          .config("spark.local.dir", s"${o.work}/spark-local")
          .config("spark.sql.warehouse.dir", s"${o.work}/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** JVM start in epoch ms: `setup_s` is measured from here. */
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  def obj(kv: Seq[(String, Double)]): String = kv.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")

  /** GC time and count summed over all collectors. */
  def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }
}

/** Peak used heap after a collection while `armed` is set, from the JVM's
  * GC notifications. */
object Heap {
  @volatile var armed          = false
  @volatile private var peakB  = 0L

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener(
          (n: javax.management.Notification, _: Any) =>
            if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
                .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if pools(pool) => u.getUsed }.sum
              if (used > peakB) peakB = used
            },
          null, null)
      case _ => ()
    }

  def peakMb: Double = peakB / (1024.0 * 1024.0)
}
