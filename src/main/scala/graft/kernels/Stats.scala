package graft.kernels

/** Descriptive statistics over pixel vectors — the numeric core of the
  * intensity features (reference: features/intensity.py:25-37 props
  * list) and the mask filters (masking/filters/ modules).
  *
  * All results in Double; inputs are Float pixel values. Percentiles
  * use linear interpolation (numpy default), skew/kurtosis are the
  * biased moment estimators (scipy defaults with bias=True), and
  * `normaltestP` is D'Agostino-Pearson K² with the exact chi²(2df)
  * survival function exp(-K²/2) (reference filter:
  * masking/filters/normaltest.py).
  */
object Stats {

  def mean(xs: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < xs.length) { s += xs(i); i += 1 }
    if (xs.length == 0) Double.NaN else s / xs.length
  }

  def sum(xs: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < xs.length) { s += xs(i); i += 1 }
    s
  }

  def minMax(xs: Array[Float]): (Double, Double) = {
    if (xs.length == 0) return (Double.NaN, Double.NaN)
    var mn = xs(0).toDouble; var mx = xs(0).toDouble; var i = 1
    while (i < xs.length) {
      val v = xs(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    (mn, mx)
  }

  /** population std (ddof=0 — numpy default, used by the std mask
    * filter masking/filters/std.py) */
  def std(xs: Array[Float]): Double = {
    if (xs.length == 0) return Double.NaN
    val m = mean(xs)
    var s = 0.0; var i = 0
    while (i < xs.length) { val d = xs(i) - m; s += d * d; i += 1 }
    math.sqrt(s / xs.length)
  }

  /** central moment of order k */
  private def centralMoment(xs: Array[Float], m: Double, k: Int): Double = {
    var s = 0.0; var i = 0
    while (i < xs.length) { s += math.pow(xs(i) - m, k); i += 1 }
    s / xs.length
  }

  /** linear-interpolation percentile (numpy.percentile default) on a
    * pre-sorted copy */
  def percentile(sorted: Array[Float], q: Double): Double = {
    val n = sorted.length
    if (n == 0) return Double.NaN
    if (n == 1) return sorted(0)
    val pos = q / 100.0 * (n - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) sorted(lo)
    else sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

  def median(xs: Array[Float]): Double = selectPercentile(xs.clone(), 50)

  /** median absolute deviation (scipy.stats.median_abs_deviation) */
  def mad(xs: Array[Float]): Double = {
    if (xs.length == 0) return Double.NaN
    val med = median(xs)
    val dev = new Array[Float](xs.length)
    var i = 0
    while (i < xs.length) { dev(i) = math.abs(xs(i) - med).toFloat; i += 1 }
    selectPercentile(dev, 50)
  }

  /** scipy's zero-variance guard: skew/kurtosis are NaN when m2 is at
    * or below the squared rounding floor of the data — scipy compares
    * m2 <= (finfo(dtype).resolution * mean)^2, and the engine's pixel
    * inputs are float32 (resolution 1e-6). Returning 0.0 / -3.0 here
    * (the old behavior) flipped normaltest mask-filter decisions on
    * constant planes and emitted garbage skew/kurtosis on near-flat
    * float32 backgrounds where m2 is pure rounding noise. */
  private def zeroVariance(m2: Double, m: Double): Boolean =
    m2 <= (1e-6 * m) * (1e-6 * m)

  /** biased sample skewness g1 = m3 / m2^1.5 (scipy bias=True);
    * NaN on (near-)zero variance, as scipy */
  def skewness(xs: Array[Float]): Double = {
    if (xs.length == 0) return Double.NaN
    val m = mean(xs)
    val m2 = centralMoment(xs, m, 2)
    val m3 = centralMoment(xs, m, 3)
    if (zeroVariance(m2, m)) Double.NaN else m3 / math.pow(m2, 1.5)
  }

  /** biased excess kurtosis g2 = m4/m2² − 3 (scipy fisher=True,
    * bias=True); NaN on (near-)zero variance, as scipy */
  def kurtosis(xs: Array[Float]): Double = {
    if (xs.length == 0) return Double.NaN
    val m = mean(xs)
    val m2 = centralMoment(xs, m, 2)
    val m4 = centralMoment(xs, m, 4)
    if (zeroVariance(m2, m)) Double.NaN else m4 / (m2 * m2) - 3.0
  }

  /** The 11-stat row of features/intensity.py:25-37, in its order:
    * mean, median, max, min, std, mad, q25, q75, sum, skew, kurtosis.
    * A vector of finite values takes its order statistics from a sorted
    * copy ([[sortedRow]]); one holding a NaN or an infinity, by
    * selection. Both give the row of the sort-based definition. */
  def intensityRow(xs: Array[Float]): Array[Double] = {
    if (xs.length == 0) return Array.fill(11)(0.0) // empty-view default (missing_masks contract)
    val sorted = sortedIfFinite(xs)
    if (sorted != null) sortedRow(xs, sorted)
    else {
      val s = xs.clone()
      intensityRow(xs, orderStats(s), s)
    }
  }

  /** [[intensityRow]] of `xs` given its order statistics `os` (the
    * values [[orderStats]] takes from a copy of `xs`). `scratch`, of
    * `xs.length` floats, receives the absolute deviations for MAD. The
    * mean, sum and moments are summed over `xs` in its own order. */
  def intensityRow(xs: Array[Float], os: Array[Float], scratch: Array[Float]): Array[Double] = {
    val n = xs.length
    if (n == 0) return Array.fill(11)(0.0)
    val med = fromRanks(50, n, os(4), os(5))
    val dev = scratch
    var i = 0
    while (i < n) { dev(i) = math.abs(xs(i) - med).toFloat; i += 1 }
    row(xs, med, os(1), os(0), selectPercentile(dev, 50),
      fromRanks(25, n, os(2), os(3)), fromRanks(75, n, os(6), os(7)))
  }

  /** [[intensityRow]] of `xs` (n >= 1 finite values) from `sorted`, the
    * same values in ascending order. Each order statistic is read at
    * its rank. MAD is the median of d(x) = |x - median|, and d only
    * grows walking down from the largest value at or below the median
    * (x - median falls, and is at most zero) and walking up from the
    * smallest value above it (x - median rises, and is positive): both
    * walks are monotone, as rounding is. Merging the two walks gives
    * the deviations in ascending order, up to the median's ranks. */
  private def sortedRow(xs: Array[Float], sorted: Array[Float]): Array[Double] = {
    val n = xs.length
    def at(q: Double): Double = {
      val pos = q / 100.0 * (n - 1)
      val k = math.floor(pos).toInt
      fromRanks(q, n, sorted(k), sorted(math.ceil(pos).toInt))
    }
    val med = at(50)
    // deviations: below from `down` towards 0, above from `up` towards n
    var up = 0
    while (up < n && sorted(up) <= med) up += 1
    var down = up - 1
    val pos = 0.5 * (n - 1)
    val k = math.floor(pos).toInt
    var rank = 0
    var lo = 0f; var hi = 0f
    val last = math.ceil(pos).toInt
    while (rank <= last) {
      val d =
        if (up >= n || (down >= 0 &&
            math.abs(sorted(down) - med).toFloat <= math.abs(sorted(up) - med).toFloat)) {
          down -= 1; math.abs(sorted(down + 1) - med).toFloat
        } else {
          up += 1; math.abs(sorted(up - 1) - med).toFloat
        }
      if (rank == k) lo = d
      hi = d
      rank += 1
    }
    row(xs, med, sorted(n - 1), sorted(0), fromRanks(50, n, lo, hi), at(25), at(75))
  }

  /** the row from its order statistics; the mean, sum and moments are
    * summed over `xs` in its own order */
  private def row(xs: Array[Float], med: Double, max: Float, min: Float, mad: Double,
      q25: Double, q75: Double): Array[Double] = {
    val n = xs.length
    val m = mean(xs)
    // one fused pass for m2/m3/m4 (std, skew, kurtosis all derive from them)
    var m2 = 0.0; var m3 = 0.0; var m4 = 0.0
    var i = 0
    while (i < n) {
      val d = xs(i) - m
      val d2 = d * d
      m2 += d2; m3 += d2 * d; m4 += d2 * d2
      i += 1
    }
    m2 /= n; m3 /= n; m4 /= n
    Array(
      m,
      med,
      max.toDouble,
      min.toDouble,
      math.sqrt(m2),
      mad,
      q25,
      q75,
      sum(xs),
      if (zeroVariance(m2, m)) Double.NaN else m3 / math.pow(m2, 1.5),
      if (zeroVariance(m2, m)) Double.NaN else m4 / (m2 * m2) - 3.0)
  }

  /** A copy of `xs` in ascending order ([[sortedNaNFree]]) when every
    * value is finite, else null. */
  private[graft] def sortedIfFinite(xs: Array[Float]): Array[Float] = {
    var i = 0
    while (i < xs.length) {
      if ((java.lang.Float.floatToRawIntBits(xs(i)) & 0x7F800000) == 0x7F800000) return null
      i += 1
    }
    sortedNaNFree(xs)
  }

  /** A NaN-free array in `java.util.Arrays.sort` order (-0.0 before
    * +0.0), by an LSD radix sort of the sign-flipped float bits: a
    * negative value's bits are inverted and a non-negative value's sign
    * bit is set, which orders the keys as unsigned ints exactly as the
    * floats compare. Four 8-bit passes, each stable; a pass whose digit
    * is the same in every key is skipped. */
  private[graft] def sortedNaNFree(xs: Array[Float]): Array[Float] = {
    val n = xs.length
    var keys = new Array[Int](n)
    var other = new Array[Int](n)
    var i = 0
    while (i < n) {
      val b = java.lang.Float.floatToRawIntBits(xs(i))
      keys(i) = b ^ ((b >> 31) | Int.MinValue)
      i += 1
    }
    val count = new Array[Int](256)
    var shift = 0
    while (shift < 32) {
      java.util.Arrays.fill(count, 0)
      i = 0
      while (i < n) { count((keys(i) >>> shift) & 0xFF) += 1; i += 1 }
      if (n > 0 && count((keys(0) >>> shift) & 0xFF) != n) {
        var sum = 0
        var d = 0
        while (d < 256) { val c = count(d); count(d) = sum; sum += c; d += 1 }
        i = 0
        while (i < n) {
          val k = keys(i)
          val d = (k >>> shift) & 0xFF
          other(count(d)) = k
          count(d) += 1
          i += 1
        }
        val t = keys; keys = other; other = t
      }
      shift += 8
    }
    val out = new Array[Float](n)
    i = 0
    while (i < n) {
      val k = keys(i)
      out(i) = java.lang.Float.intBitsToFloat(if (k < 0) k ^ Int.MinValue else ~k)
      i += 1
    }
    out
  }

  // ---- order statistics by selection -------------------------------------
  //
  // Contract: every order statistic here is the value that
  // `java.util.Arrays.sort(float[])` of the same vector holds at that
  // rank. That sort orders by `java.lang.Float.compare`: -0.0 before
  // +0.0, and NaN after +Inf (all NaNs equal). Selection partitions in
  // that order, so the value at a rank is the sort's, ties and signed
  // zeros included. A percentile is numpy's linear interpolation
  // between the values at ranks floor(pos) and ceil(pos), pos =
  // q / 100 * (n - 1), with [[percentile]]'s exact expression
  // `lo + (pos - floor(pos)) * (hi - lo)`: Float + Double * (Float -
  // Float), and the low value alone when pos is whole.

  /** The order statistics of `s` (n >= 1 values), rearranging `s` in
    * place: Array(min, max, q25 low, q25 high, q50 low, q50 high, q75
    * low, q75 high), where "low"/"high" are the values at ranks
    * floor(pos)/ceil(pos) of that percentile (equal when pos is whole).
    * q50 is selected over all of `s`, q75 above it and q25 below it; a
    * high rank is the minimum of the part above its low rank. An empty
    * `s` gives eight zeros, which [[intensityRow]] never reads. */
  def orderStats(s: Array[Float]): Array[Float] = {
    val n = s.length
    val os = new Array[Float](8)
    if (n == 0) return os
    var mn = s(0); var mx = s(0); var i = 1
    while (i < n) {
      val v = s(i)
      if (java.lang.Float.compare(v, mn) < 0) mn = v
      if (java.lang.Float.compare(v, mx) > 0) mx = v
      i += 1
    }
    os(0) = mn; os(1) = mx
    // positions [from, until) of `s` hold exactly ranks [from, until),
    // and position `until` (when < n) holds rank `until`
    def take(q: Double, slot: Int, from: Int, until: Int): Unit = {
      val pos = q / 100.0 * (n - 1)
      val k = math.floor(pos).toInt
      os(slot) = select(s, from, until, k)
      os(slot + 1) =
        if (k == math.ceil(pos).toInt) os(slot)
        else if (k + 1 < until) minOf(s, k + 1, until)
        else s(until)
    }
    def lowRank(q: Double): Int = math.floor(q / 100.0 * (n - 1)).toInt
    val k50 = lowRank(50)
    take(50, 4, 0, n)
    take(75, 6, if (lowRank(75) > k50) k50 + 1 else k50, n)
    if (lowRank(25) < k50) take(25, 2, 0, k50) else take(25, 2, k50, n)
    os
  }

  /** numpy-linear percentile `q` of `n` values from the values at its
    * low and high ranks (see the selection contract above) */
  private def fromRanks(q: Double, n: Int, lo: Float, hi: Float): Double = {
    val pos = q / 100.0 * (n - 1)
    val k = math.floor(pos).toInt
    if (k == math.ceil(pos).toInt) lo else lo + (pos - k) * (hi - lo)
  }

  /** [[percentile]] of `a` by selection instead of a sort; rearranges
    * `a` in place. Equal to `percentile(sorted copy of a, q)` bit for
    * bit (see the selection contract above). */
  def selectPercentile(a: Array[Float], q: Double): Double = {
    val n = a.length
    if (n == 0) return Double.NaN
    val pos = q / 100.0 * (n - 1)
    val k = math.floor(pos).toInt
    val lo = select(a, 0, n, k)
    if (k == math.ceil(pos).toInt) lo else lo + (pos - k) * (minOf(a, k + 1, n) - lo)
  }

  /** Rearranges `a(from until until)` so that position `k` holds the
    * value a sort of that range would put there, with every value
    * before it no greater and every value after it no smaller
    * (`Float.compare`), and returns it. Three-way quickselect on a
    * median-of-three pivot; a range that has not shrunk to one value
    * after 3·log2(length) rounds is finished by `Arrays.sort`, which
    * bounds the worst case by the sort it replaces. */
  def select(a: Array[Float], from: Int, until: Int, k: Int): Float = {
    var lo = from; var hi = until - 1
    var rounds = 3 * (32 - Integer.numberOfLeadingZeros(until - from))
    while (lo < hi) {
      if (rounds == 0) { java.util.Arrays.sort(a, lo, hi + 1); return a(k) }
      rounds -= 1
      val pivot = median3(a(lo), a((lo + hi) >>> 1), a(hi))
      // [lo, lt) < pivot, [lt, i) == pivot, (gt, hi] > pivot
      var lt = lo; var gt = hi; var i = lo
      while (i <= gt) {
        val v = a(i)
        val c = java.lang.Float.compare(v, pivot)
        if (c < 0) { a(i) = a(lt); a(lt) = v; lt += 1; i += 1 }
        else if (c > 0) { a(i) = a(gt); a(gt) = v; gt -= 1 }
        else i += 1
      }
      if (k < lt) hi = lt - 1
      else if (k > gt) lo = gt + 1
      else return a(k)
    }
    a(k)
  }

  private def median3(x: Float, y: Float, z: Float): Float = {
    import java.lang.Float.compare
    if (compare(x, y) < 0) {
      if (compare(y, z) < 0) y else if (compare(x, z) < 0) z else x
    } else {
      if (compare(x, z) < 0) x else if (compare(y, z) < 0) z else y
    }
  }

  /** smallest of `a(from until until)` in `Float.compare` order */
  private def minOf(a: Array[Float], from: Int, until: Int): Float = {
    var m = a(from); var i = from + 1
    while (i < until) { if (java.lang.Float.compare(a(i), m) < 0) m = a(i); i += 1 }
    m
  }

  // ---- D'Agostino-Pearson normality test --------------------------------

  /** scipy.stats.skewtest Z statistic (D'Agostino 1970) */
  def skewtestZ(xs: Array[Float]): Double = {
    val n = xs.length.toDouble
    require(n >= 8, "skewtest needs n >= 8")
    val b2 = skewness(xs)
    val y = b2 * math.sqrt(((n + 1) * (n + 3)) / (6.0 * (n - 2)))
    val beta2 = 3.0 * (n * n + 27 * n - 70) * (n + 1) * (n + 3) /
      ((n - 2.0) * (n + 5) * (n + 7) * (n + 9))
    val w2 = -1.0 + math.sqrt(2.0 * (beta2 - 1))
    val delta = 1.0 / math.sqrt(0.5 * math.log(w2))
    val alpha = math.sqrt(2.0 / (w2 - 1))
    // scipy substitutes y = 1 (not an epsilon) when y == 0: zero-skew
    // data still gets the nonzero Z = delta*asinh(1/alpha); an epsilon
    // here understated K2 and overstated the normality p-value
    val yy = (if (y == 0) 1.0 else y) / alpha
    delta * math.log(yy + math.sqrt(yy * yy + 1))
  }

  /** scipy.stats.kurtosistest Z statistic (Anscombe & Glynn 1983) */
  def kurtosistestZ(xs: Array[Float]): Double = {
    val n = xs.length.toDouble
    require(n >= 5, "kurtosistest needs n >= 5")
    val b2 = kurtosis(xs) + 3.0 // Pearson (non-excess) kurtosis
    val e = 3.0 * (n - 1) / (n + 1)
    val varb2 = 24.0 * n * (n - 2) * (n - 3) / ((n + 1) * (n + 1) * (n + 3) * (n + 5))
    val x = (b2 - e) / math.sqrt(varb2)
    val sqrtbeta1 = 6.0 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9)) *
      math.sqrt(6.0 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    val a = 6.0 + 8.0 / sqrtbeta1 *
      (2.0 / sqrtbeta1 + math.sqrt(1 + 4.0 / (sqrtbeta1 * sqrtbeta1)))
    val term1 = 1.0 - 2.0 / (9 * a)
    val denom = 1.0 + x * math.sqrt(2.0 / (a - 4))
    // scipy: "Test statistic not defined in some cases" — denom == 0
    // yields NaN (sign(0)*nan), so the normaltest p is NaN and the
    // filter fails, rather than a fabricated finite Z
    val term2 =
      if (denom == 0) Double.NaN
      else math.signum(denom) * math.cbrt((1.0 - 2.0 / a) / math.abs(denom))
    (term1 - term2) / math.sqrt(2.0 / (9 * a))
  }

  /** p-value of D'Agostino-Pearson K² (chi² sf with 2 dof = exp(-x/2)).
    * The normaltest mask filter keeps a channel when p < 0.05
    * (masking/filters/normaltest.py:1-10). */
  def normaltestP(xs: Array[Float]): Double = {
    val zs = skewtestZ(xs)
    val zk = kurtosistestZ(xs)
    val k2 = zs * zs + zk * zk
    math.exp(-k2 / 2.0)
  }
}
