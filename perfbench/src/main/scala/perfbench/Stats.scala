package perfbench

/** The benchmark's arithmetic: percentiles, the order-independent
  * checksum of a sample multiset, and open-loop lateness. */
object Stats {

  /** Percentile (`p` in [0, 100]) of `xs` by linear interpolation
    * between order statistics (numpy's default); `NaN` when empty. A
    * failed request enters as +∞, so it misses every limit. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile $p out of [0, 100]")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p / 100.0
      val i = h.toInt
      val f = h - i
      if (f == 0 || i + 1 == s.size) s(i)
      else if (s(i + 1).isInfinite) s(i + 1)
      else s(i) + f * (s(i + 1) - s(i))
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Hash of one stored row; tags are sorted first, so any label order
    * gives the same hash. */
  def rowHash(tags: Seq[String], tsSec: Long, value: Double): Long = {
    val th = scala.util.hashing.MurmurHash3.seqHash(tags.sorted).toLong
    mix(mix(mix(th) ^ tsSec) ^ java.lang.Double.doubleToLongBits(value))
  }

  /** Row count and wrapping sum of row hashes: equal for equal
    * multisets in any order. */
  final case class Checksum(rows: Long, sum: Long) {
    def +(h: Long): Checksum = Checksum(rows + 1, sum + h)
    def ++(o: Checksum): Checksum = Checksum(rows + o.rows, sum + o.sum)
  }
  object Checksum {
    val empty: Checksum = Checksum(0L, 0L)
    def of(samples: Iterable[Sample]): Checksum =
      samples.foldLeft(empty)((c, s) => c + rowHash(s.tags, s.tsSec, s.value))
  }

  /** How late an open-loop request was sent: actual send − due, ms,
    * never negative. */
  def latenessMs(dueNs: Long, sentNs: Long): Double =
    math.max(0L, sentNs - dueNs) / 1e6

  /** Due time of request `i` of an open loop started at `t0Ns` that
    * offers `perSec` requests per second. */
  def dueNs(t0Ns: Long, i: Long, perSec: Double): Long =
    t0Ns + (i * 1e9 / perSec).toLong
}
