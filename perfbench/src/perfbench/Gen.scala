package perfbench

import java.util.SplittableRandom

/** Seeded generation helpers. Every stream of randomness is derived from
  * (seed, purpose, index), so inputs depend on the seed alone. */
object Gen {
  def rng(seed: Long, purpose: Int, index: Long): SplittableRandom =
    new SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + purpose * 0xBF58476D1CE4E5B9L + index))

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Lower-case word for a vocabulary rank, spelled in the letters a..p. */
  def word(rank: Int): String = {
    val sb = new StringBuilder("w")
    var r = rank
    do { sb += ('a' + (r & 15)).toChar; r >>>= 4 } while (r > 0)
    sb.toString
  }
}

/** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
final class Zipf(n: Int, s: Double) extends Serializable {
  private val cdf: Array[Double] = {
    val a = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1, s); a(i) = acc; i += 1 }
    i = 0
    while (i < n) { a(i) /= acc; i += 1 }
    a
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i < 0) -i - 1 else i, n - 1)
  }
}
