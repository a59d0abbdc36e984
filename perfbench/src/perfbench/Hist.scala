package perfbench

/**
 * Fixed-bucket histogram of non-negative longs (latencies in ns). Recording
 * allocates nothing: a boxed sample queue on the writer or watch thread
 * stalls it in GC, and that stall shows up as lateness and delivery
 * latency that the system under test never caused. Values below 128 are
 * exact; above, each power of two is split into 128 buckets, so a reported
 * percentile is within 0.8% of a recorded value. One thread records;
 * readers look only after that thread has stopped.
 */
final class Hist {
  private val counts = new Array[Long](128 + 57 * 128)
  private var n      = 0L
  private var sum    = 0L
  private var maxV   = 0L

  def record(v0: Long): Unit = {
    val v = if (v0 < 0) 0L else v0
    counts(Hist.index(v)) += 1
    n += 1
    sum += v
    if (v > maxV) maxV = v
  }

  def count: Long  = n
  def max: Long    = maxV
  def totalMs: Double = sum / 1e6

  /** Midpoint of the bucket holding the `p`-th percentile sample; 0 when empty. */
  def percentile(p: Double): Double =
    if (n == 0) 0.0
    else {
      val rank = math.max(1L, math.ceil(p / 100.0 * n).toLong)
      var seen = 0L
      var i    = 0
      while (seen + counts(i) < rank) { seen += counts(i); i += 1 }
      math.min(Hist.mid(i), maxV.toDouble)
    }

  /** Mean of the samples above the `p`-th percentile (bucket midpoints):
    * with `p` = 75, the mean of the slowest quarter. 0 when empty. */
  def meanAbove(p: Double): Double =
    if (n == 0) 0.0
    else {
      var left = math.max(1L, n - math.ceil(p / 100.0 * n).toLong)
      val k    = left
      var acc  = 0.0
      var i    = counts.length - 1
      while (left > 0) {
        val take = math.min(left, counts(i))
        acc += take * math.min(Hist.mid(i), maxV.toDouble)
        left -= take
        i -= 1
      }
      acc / k
    }

  def merge(o: Hist): Unit = {
    var i = 0
    while (i < counts.length) { counts(i) += o.counts(i); i += 1 }
    n += o.n
    sum += o.sum
    maxV = math.max(maxV, o.maxV)
  }
}

object Hist {
  private[perfbench] def index(v: Long): Int =
    if (v < 128) v.toInt
    else {
      val e     = 63 - java.lang.Long.numberOfLeadingZeros(v)
      val shift = e - 7
      128 + shift * 128 + ((v >>> shift) - 128).toInt
    }

  private def mid(i: Int): Double =
    if (i < 128) i.toDouble
    else {
      val shift = (i - 128) / 128
      val m     = (i - 128) % 128
      ((128L + m) << shift).toDouble + ((1L << shift) - 1) / 2.0
    }
}
