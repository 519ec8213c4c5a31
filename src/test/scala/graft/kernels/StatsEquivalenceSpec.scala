package graft.kernels

import org.scalatest.funsuite.AnyFunSuite

/** Proves the selection-based order statistics (Stats.select,
  * orderStats, selectPercentile and the intensity row built on them)
  * and the radix-sorted intensity row of finite vectors equal to the
  * sort-based code they replaced, which is kept here verbatim as the
  * reference. The background-subtracted twins of
  * Features.intensityViews, x ↦ (x - b).toFloat of a view, are checked
  * against the reference row of the subtracted array.
  *
  * Doubles compare by `doubleToLongBits` (so -0.0 differs from +0.0,
  * and every NaN equals every NaN), floats by `floatToIntBits`. */
class StatsEquivalenceSpec extends AnyFunSuite {

  // ---- the sort-based reference ---------------------------------------

  private def refPercentile(sorted: Array[Float], q: Double): Double = {
    val n = sorted.length
    if (n == 0) return Double.NaN
    if (n == 1) return sorted(0)
    val pos = q / 100.0 * (n - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) sorted(lo)
    else sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

  private def refIntensityRow(xs: Array[Float]): Array[Double] = {
    if (xs.length == 0) return Array.fill(11)(0.0)
    val s = xs.clone(); java.util.Arrays.sort(s)
    val m = Stats.mean(xs)
    var m2 = 0.0; var m3 = 0.0; var m4 = 0.0
    var i = 0
    while (i < xs.length) {
      val d = xs(i) - m
      val d2 = d * d
      m2 += d2; m3 += d2 * d; m4 += d2 * d2
      i += 1
    }
    m2 /= xs.length; m3 /= xs.length; m4 /= xs.length
    val med = refPercentile(s, 50)
    val dev = new Array[Float](xs.length)
    i = 0
    while (i < xs.length) { dev(i) = math.abs(xs(i) - med).toFloat; i += 1 }
    java.util.Arrays.sort(dev)
    val zeroVar = m2 <= (1e-6 * m) * (1e-6 * m)
    Array(
      m,
      med,
      s(s.length - 1).toDouble,
      s(0).toDouble,
      math.sqrt(m2),
      refPercentile(dev, 50),
      refPercentile(s, 25),
      refPercentile(s, 75),
      Stats.sum(xs),
      if (zeroVar) Double.NaN else m3 / math.pow(m2, 1.5),
      if (zeroVar) Double.NaN else m4 / (m2 * m2) - 3.0)
  }

  // ---- inputs ------------------------------------------------------------

  private val specials: Array[Float] = Array(Float.NaN, Float.PositiveInfinity,
    Float.NegativeInfinity, 0.0f, -0.0f, 1.0f, -1.0f, Float.MinPositiveValue,
    -Float.MinPositiveValue, Float.MaxValue, -Float.MaxValue, 1e-30f)

  /** seeded vectors of every listed length: uniform, few distinct
    * values (ties), special values mixed in, constants, signed zeros */
  private def vectors(seed: Int): Seq[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    val lengths = Seq(0, 1, 2, 3, 7, 2304)
    lengths.flatMap { n =>
      Seq(
        Array.fill(n)(rng.nextFloat() * 1000f),
        Array.fill(n)(rng.nextInt(4).toFloat),
        Array.fill(n)(if (rng.nextInt(3) == 0) specials(rng.nextInt(specials.length))
          else rng.nextGaussian().toFloat),
        Array.fill(n)(specials(rng.nextInt(specials.length))),
        Array.fill(n)(7.5f),
        Array.fill(n)(if (rng.nextBoolean()) 0.0f else -0.0f),
        Array.fill(n)(if (rng.nextInt(5) == 0) Float.NaN else rng.nextInt(3).toFloat),
        Array.tabulate(n)(i => (n - i).toFloat), // descending
        Array.tabulate(n)(i => i.toFloat))       // ascending
    }
  }

  private def bits(xs: Array[Double]): Seq[Long] = xs.toSeq.map(java.lang.Double.doubleToLongBits)

  private def assertSameRow(got: Array[Double], want: Array[Double], what: => String): Unit =
    assert(bits(got) == bits(want),
      s"$what: ${got.mkString(",")} vs ${want.mkString(",")}")

  // ---- cases -------------------------------------------------------------

  test("select puts the sorted value at rank k and partitions around it") {
    val rng = new scala.util.Random(3)
    for (xs <- vectors(1) if xs.nonEmpty; _ <- 0 until 3) {
      val sorted = xs.clone(); java.util.Arrays.sort(sorted)
      val k = rng.nextInt(xs.length)
      val a = xs.clone()
      val v = Stats.select(a, 0, a.length, k)
      assert(java.lang.Float.floatToIntBits(v) == java.lang.Float.floatToIntBits(sorted(k)))
      assert(a.take(k).forall(java.lang.Float.compare(_, v) <= 0))
      assert(a.drop(k + 1).forall(java.lang.Float.compare(_, v) >= 0))
      val back = a.clone(); java.util.Arrays.sort(back)
      assert(back.map(java.lang.Float.floatToIntBits).toSeq ==
        sorted.map(java.lang.Float.floatToIntBits).toSeq) // a permutation
    }
  }

  test("intensityRow equals the sort-based row, bit for bit") {
    for (seed <- 1 to 3; (xs, i) <- vectors(seed).zipWithIndex)
      assertSameRow(Stats.intensityRow(xs), refIntensityRow(xs),
        s"seed $seed vector $i (n=${xs.length})")
  }

  test("selectPercentile equals the sorted percentile: spot's q99, sobel quantiles, median, mad") {
    for (seed <- 1 to 3; xs <- vectors(seed); q <- Seq(0.0, 25.0, 50.0, 75.0, 90.0, 99.0, 100.0)) {
      val sorted = xs.clone(); java.util.Arrays.sort(sorted)
      val got = Stats.selectPercentile(xs.clone(), q)
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(refPercentile(sorted, q)), s"q=$q n=${xs.length}")
    }
    for (xs <- vectors(4) if xs.nonEmpty) {
      val sorted = xs.clone(); java.util.Arrays.sort(sorted)
      assert(java.lang.Double.doubleToLongBits(Stats.median(xs)) ==
        java.lang.Double.doubleToLongBits(refPercentile(sorted, 50)))
      assert(java.lang.Double.doubleToLongBits(Stats.mad(xs)) ==
        java.lang.Double.doubleToLongBits(refIntensityRow(xs)(5)))
    }
  }

  test("background-subtracted twins: mapped order statistics equal the subtracted row") {
    for (seed <- 1 to 3; xs <- vectors(seed)) {
      val pixel = if (xs.nonEmpty) xs(xs.length / 2).toDouble else 3.0
      val bs = Seq(0.0, -0.0, 1e-30, -1e-30, pixel, 1e6, -1e6,
        Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN)
      for (b <- bs) {
        val twin = xs.map(x => (x - b).toFloat)
        assertSameRow(Stats.intensityRow(twin), refIntensityRow(twin), s"b=$b n=${xs.length}")
      }
    }
  }

  test("the selection row equals the sorted row on finite vectors") {
    // the two ways intensityRow takes order statistics, on the inputs
    // that can take either: finite values of every length and spread,
    // signed zeros, extremes whose deviations overflow to infinity
    val rng = new scala.util.Random(11)
    val finite = specials.filter(v => !v.isNaN && !v.isInfinite)
    for (n <- Seq(1, 2, 3, 4, 63, 64, 65, 66, 200, 2304); _ <- 0 until 4) {
      for (xs <- Seq(
          Array.fill(n)(rng.nextGaussian().toFloat * 100f),
          Array.fill(n)(rng.nextInt(6).toFloat - 2f),
          Array.fill(n)(finite(rng.nextInt(finite.length))),
          Array.fill(n)(if (rng.nextBoolean()) 0.0f else -0.0f),
          Array.fill(n)(if (rng.nextBoolean()) Float.MaxValue else -Float.MaxValue))) {
        val s = xs.clone()
        val bySelection = Stats.intensityRow(xs, Stats.orderStats(s), s)
        assertSameRow(Stats.intensityRow(xs), bySelection, s"n=$n ${xs.take(4).mkString(",")}")
        assertSameRow(Stats.intensityRow(xs), refIntensityRow(xs), s"n=$n reference")
      }
    }
  }
}
