package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every random stream is a SplittableRandom
  * derived from (run seed, stream name), so adding a stream never shifts
  * the draws of another, and the same seed gives the same inputs.
  */
object Gen {

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0xC2B2AE3D27D4EB4FL)

  /** Zipf(s) over ranks 0 until n: rank r is drawn with weight 1/(r+1)^s. */
  final class Zipf(n: Int, s: Double) {
    require(n > 0)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Zipf-distributed keys over a population. Which key holds which rank is
    * a fixed permutation, so the hot keys are not simply the smallest ids and
    * stay the same from seed to seed; the draws themselves come from the
    * caller's stream. */
  final class Keys(population: Array[Long], s: Double) {
    private val zipf = new Zipf(population.length, s)
    private val byRank: Array[Long] = {
      val perm = population.clone()
      val r = rng(42, "key-permutation")
      var i = perm.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = perm(i); perm(i) = perm(j); perm(j) = t
        i -= 1
      }
      perm
    }
    def next(r: SplittableRandom): Long = byRank(zipf.sample(r))
  }

  /** Poisson arrivals at `ratePerSec` over `seconds`: offsets in ns from the
    * start, with exponential gaps. */
  def poissonArrivals(ratePerSec: Double, seconds: Double, r: SplittableRandom): Array[Long] = {
    val out = Array.newBuilder[Long]
    val horizon = (seconds * 1e9).toLong
    var t = 0.0
    var done = false
    while (!done) {
      t += -math.log(1.0 - r.nextDouble()) / ratePerSec * 1e9
      if (t >= horizon) done = true else out += t.toLong
    }
    out.result()
  }

  /** Deterministic seeded shuffle. */
  def shuffle[A](xs: Seq[A], r: SplittableRandom): Seq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  /** Sleep until System.nanoTime reaches `t`, spinning through the last
    * 200 µs: a parked thread wakes tens to hundreds of µs late on a busy
    * box, which would count as latency of sub-millisecond requests. */
  def waitUntil(t: Long): Unit = {
    var left = t - System.nanoTime()
    while (left > 200000L) {
      java.util.concurrent.locks.LockSupport.parkNanos(left - 200000L)
      left = t - System.nanoTime()
    }
    while (System.nanoTime() < t) Thread.onSpinWait()
  }
}
