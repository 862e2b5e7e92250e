package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** The benchmark's own arithmetic, kept free of Spark sessions so the self
  * test can pin it: the tail rule, span self time and the order-independent
  * digest.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted.toIndexedSeq
    s(rank(s.size, p) - 1)
  }

  private def rank(n: Int, p: Int): Int =
    math.min(n, math.max(1, math.ceil(p * n / 100.0).toInt))

  /** A tail latency with the percentile it is and the sample count. */
  final case class Tail(percentile: Int, value: Double, samples: Int, beyond: Int) {
    def label: String = s"p$percentile"
  }

  /** The highest whole percentile that still has at least `minBeyond`
    * samples above it (nearest rank), or None when there are too few
    * samples for any percentile to qualify.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val n = xs.size
    (99 to 1 by -1).find(p => n - rank(n, p) >= minBeyond).map { p =>
      Tail(p, percentile(xs, p), n, n - rank(n, p))
    }
  }

  /** Length of the union of `[start, end)` intervals, clipped to `window`. */
  def covered(intervals: Seq[(Double, Double)], window: (Double, Double)): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, window._1), math.min(b, window._2)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curEnd.isNaN || a > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the part its children cover.
    * Children may overlap each other; overlap is counted once.
    */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - covered(children, (start, end))

  /** Spark's `xxhash64` of one string (seed 42), so a digest summed on the
    * driver equals one summed by a Spark aggregate over the same strings.
    */
  def hash(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** Row count plus the sum of per-row hashes: equal for any row order. */
  final case class Digest(rows: Long, hashSum: BigInt) {
    def +(line: String): Digest = Digest(rows + 1, hashSum + hash(line))
    def -(line: String): Digest = Digest(rows - 1, hashSum - hash(line))
    override def toString: String = s"$rows:$hashSum"
  }
  object Digest {
    val empty: Digest = Digest(0L, BigInt(0))
    def of(lines: Iterable[String]): Digest = lines.foldLeft(empty)(_ + _)
  }
}
