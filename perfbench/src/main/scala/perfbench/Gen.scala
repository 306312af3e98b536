package perfbench

import java.util.SplittableRandom

/** Zipf sampler over ranks 0..n-1, P(k) ∝ (k+1)^-s, by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => math.pow(k + 1.0, -s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Gen {

  /** `n` distinct lowercase words of 3 to 10 letters. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val out = new java.util.LinkedHashSet[String](n * 2)
    val b = new StringBuilder
    while (out.size < n) {
      b.clear()
      (0 until 3 + r.nextInt(8)).foreach(_ => b += ('a' + r.nextInt(26)).toChar)
      out.add(b.toString)
    }
    out.toArray(new Array[String](0))
  }

  /** A seeded permutation of 0 until n. */
  def permutation(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
