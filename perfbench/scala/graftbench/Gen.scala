package graftbench

/** Deterministic input generation: every value is a pure function of
  * (seed, stream, index), so Spark tasks and the plain-Scala expected
  * results draw the same events without sharing state. */
object Gen {
  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + stream) + i)

  /** Uniform double in [0, 1). */
  def unit(h: Long): Double = (h >>> 11) / 9007199254740992.0

  /** Zipf(s) over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def apply(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Epoch seconds of the generated data's first day (a UTC midnight). */
  val T0: Long = 1700006400L

  def statName(k: Int): String = f"stat$k%04d"
}

/** The event stream shared by the kairos and streaming workloads:
  * Zipf-skewed stat names, integer-second timestamps, and small integer
  * values 1..8 skewed towards 1 (so histograms stay small). */
final class EventGen(seed: Long, stats: Int, zipfS: Double) extends Serializable {
  private val zipf = new Gen.Zipf(stats, zipfS)

  def name(i: Long): Int = zipf(Gen.unit(Gen.hash(seed, 1, i)))
  def value(i: Long): Int = 1 + (8 * math.pow(Gen.unit(Gen.hash(seed, 3, i)), 2)).toInt
  /** Offset in [0, span) seconds. */
  def offset(i: Long, span: Long): Long = (Gen.unit(Gen.hash(seed, 2, i)) * span).toLong
}
