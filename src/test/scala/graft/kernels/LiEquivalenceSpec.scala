package graft.kernels

import org.scalatest.funsuite.AnyFunSuite

/** `Thresholds.li` as it was before its tolerance came from a radix
  * sort, kept verbatim as the reference: the tolerance is half the
  * smallest gap between neighbours of an `Arrays.sort`ed copy. */
object LiReference {

  def li(img0: Array[Float], maxIter: Int = 256): Double = {
    val img =
      if (img0.exists(v => java.lang.Float.isNaN(v)))
        img0.filter(v => !java.lang.Float.isNaN(v))
      else img0
    if (img.isEmpty) return Double.NaN
    val (mn, mx) = Stats.minMax(img)
    if (mx == mn) return mn
    val sortedVals = img.clone()
    java.util.Arrays.sort(sortedVals)
    var tol = Double.MaxValue
    var i = 1
    while (i < sortedVals.length) {
      val d = (sortedVals(i) - sortedVals(i - 1)).toDouble
      if (d > 0 && d < tol) tol = d
      i += 1
    }
    tol /= 2
    val shift = mn.toDouble
    var tNext = {
      var s = 0.0; var j = 0
      while (j < img.length) { s += img(j) - shift; j += 1 }
      s / img.length
    }
    var tCurr = -2 * tol
    var iter = 0
    while (math.abs(tNext - tCurr) > tol && iter < maxIter) {
      tCurr = tNext
      var sF = 0.0; var nF = 0L; var sB = 0.0; var nB = 0L
      var j = 0
      while (j < img.length) {
        val v = img(j) - shift
        if (v > tCurr) { sF += v; nF += 1 } else { sB += v; nB += 1 }
        j += 1
      }
      if (nF == 0 || nB == 0) { tCurr = tNext }
      else {
        val meanFore = sF / nF
        val meanBack = sB / nB
        tNext =
          if (meanBack == 0.0) meanFore / 2.0
          else (meanBack - meanFore) / (math.log(meanBack) - math.log(meanFore))
      }
      iter += 1
    }
    tNext + shift
  }
}

/** Li's thresholds and its radix-sorted copy against the reference, bit
  * for bit, on seeded, constant, two-level, NaN-holed and ±0/±Inf
  * planes. */
class LiEquivalenceSpec extends AnyFunSuite {

  private def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)
  private def fbits(xs: Array[Float]) = xs.map(java.lang.Float.floatToRawIntBits).toSeq

  /** a plane of `n` values, each drawn by `f` from one seeded stream */
  private def plane(seed: Int, n: Int)(f: scala.util.Random => Float): Array[Float] = {
    val rng = new scala.util.Random(seed)
    Array.fill(n)(f(rng))
  }

  private val planes: Seq[(String, Array[Float])] =
    (0 until 40).flatMap { seed =>
      val n = 1 + seed * 61 % 2500
      Seq(
        s"gaussian $seed" -> plane(seed, n)(r => (100 + 15 * r.nextGaussian()).toFloat),
        s"smoothed edges $seed" -> plane(seed, n)(r => math.abs(r.nextGaussian() * 3).toFloat),
        s"signed small $seed" -> plane(seed, n)(r => (r.nextGaussian() * 1e-3).toFloat),
        s"integer levels $seed" -> plane(seed, n)(r => r.nextInt(12).toFloat - 4),
        s"any bits $seed" -> plane(seed, n) { r =>
          val v = java.lang.Float.intBitsToFloat(r.nextInt())
          if (v.isNaN) 0f else v
        })
    } ++ Seq(
      "constant" -> Array.fill(900)(7.25f),
      "two levels" -> Array.tabulate(900)(i => if (i % 3 == 0) 1f else 250f),
      "NaN-holed" -> Array.tabulate(900)(i => if (i % 7 == 0) Float.NaN else (i % 31).toFloat),
      "all NaN" -> Array.fill(16)(Float.NaN),
      "signed zeros" -> Array.tabulate(64)(i => if (i % 2 == 0) -0f else 0f),
      "zeros and ones" -> Array.tabulate(64)(i => Seq(-0f, 0f, 1f, -1f)(i % 4)),
      "infinities" -> Array.tabulate(64)(i =>
        Seq(Float.NegativeInfinity, -0f, 0f, 3f, Float.PositiveInfinity)(i % 5)),
      "one value" -> Array(3f),
      "extremes" -> Array(Float.MinPositiveValue, -Float.MinPositiveValue, Float.MaxValue,
        -Float.MaxValue, 0f, -0f))

  test("the radix-sorted copy equals Arrays.sort on NaN-free planes") {
    for ((what, p) <- planes) {
      val xs = p.filterNot(_.isNaN)
      val want = xs.clone()
      java.util.Arrays.sort(want)
      assert(fbits(Stats.sortedNaNFree(xs)) == fbits(want), what)
    }
  }

  test("li thresholds equal the reference bit for bit") {
    for ((what, p) <- planes)
      assert(bits(Thresholds.li(p)) == bits(LiReference.li(p)), what)
  }
}
