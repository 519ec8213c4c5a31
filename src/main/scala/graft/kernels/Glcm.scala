package graft.kernels

/** Gray-level co-occurrence matrix and Haralick-style properties —
  * texture feature kernel C14 (features/texture.py:25-132: 15-bin
  * quantize, distances 3 and 5, angles 45/135/225/315°, symmetric,
  * normed; props contrast, dissimilarity, homogeneity, energy,
  * correlation, ASM).
  */
object Glcm {

  val Props: Seq[String] =
    Seq("contrast", "dissimilarity", "homogeneity", "energy", "correlation", "asm")

  /** co-occurrence counts for one (distance, angle): offset convention
    * matches skimage.feature.graycomatrix — row offset = round(d·sin θ),
    * col offset = round(d·cos θ). `levels` quantized values in
    * [0, levels); entries < 0 mark invalid (out-of-mask) pixels and
    * pairs touching them are dropped — the reference's NaN-bin +
    * [:-1,:-1] crop (features/texture.py:60-69). Returns the
    * symmetric matrix normalized over VALID pairs only: although
    * graycomatrix(normed=True) divides by ALL pairs before the crop,
    * skimage.feature.graycoprops re-normalizes each (cropped) GLCM to
    * sum 1 before computing any property, so dividing by the valid
    * total here is exactly equivalent — including the all-invalid
    * case, where graycoprops' zero-sum guard yields correlation 1 and
    * 0 for the rest, as [[properties]] does. */
  def matrix(q: Array[Int], h: Int, w: Int, levels: Int,
      distance: Int, angleRad: Double): Array[Double] = {
    val (dr, dc) = offset(distance, angleRad)
    matrixAt(q, h, w, levels, dr, dc)
  }

  /** (row, col) pixel offset of one (distance, angle), as
    * graycomatrix rounds it */
  def offset(distance: Int, angleRad: Double): (Int, Int) =
    (math.round(distance * math.sin(angleRad)).toInt,
      math.round(distance * math.cos(angleRad)).toInt)

  /** [[matrix]] for a pixel offset. Each valid pair is counted once
    * as (a, b) in `Int`, and the counts are symmetrized once at the end:
    * (a, b) and (b, a) each get count(a, b) + count(b, a), over a total
    * of twice the pairs. Every count is an exact integer, so the
    * normalized doubles are those of adding 1.0 to both cells per pair.
    * Offsets (dr, dc) and (-dr, -dc) pair up the same pixels, so their
    * matrices are equal bit for bit. */
  private def matrixAt(q: Array[Int], h: Int, w: Int, levels: Int,
      dr: Int, dc: Int): Array[Double] = {
    val counts = new Array[Int](levels * levels)
    var pairs = 0
    // rows and columns whose partner (r + dr, c + dc) is in the image
    val r0 = math.max(0, -dr); val r1 = math.min(h, h - dr)
    val c0 = math.max(0, -dc); val c1 = math.min(w, w - dc)
    var r = r0
    while (r < r1) {
      var i = r * w + c0
      var j = (r + dr) * w + c0 + dc
      val end = r * w + c1
      while (i < end) {
        val a = q(i); val b = q(j)
        if (a >= 0 && b >= 0) { counts(a * levels + b) += 1; pairs += 1 }
        i += 1; j += 1
      }
      r += 1
    }
    val m = new Array[Double](levels * levels)
    if (pairs > 0) {
      val total = 2.0 * pairs
      var a = 0
      while (a < levels) {
        var b = 0
        while (b < levels) {
          m(a * levels + b) = (counts(a * levels + b) + counts(b * levels + a)) / total
          b += 1
        }
        a += 1
      }
    }
    m
  }

  /** the six graycoprops over a normalized GLCM, in Props order */
  def properties(p: Array[Double], levels: Int): Array[Double] = {
    var contrast = 0.0; var dissim = 0.0; var homog = 0.0; var asm = 0.0
    var mi = 0.0; var mj = 0.0
    var i = 0
    while (i < levels) {
      var j = 0
      while (j < levels) {
        val v = p(i * levels + j)
        val d = i - j
        contrast += v * d * d
        dissim += v * math.abs(d)
        homog += v / (1.0 + d * d)
        asm += v * v
        mi += i * v
        mj += j * v
        j += 1
      }
      i += 1
    }
    var si = 0.0; var sj = 0.0; var cov = 0.0
    i = 0
    while (i < levels) {
      var j = 0
      while (j < levels) {
        val v = p(i * levels + j)
        si += v * (i - mi) * (i - mi)
        sj += v * (j - mj) * (j - mj)
        cov += v * (i - mi) * (j - mj)
        j += 1
      }
      i += 1
    }
    val corr =
      if (si < 1e-15 || sj < 1e-15) 1.0 // constant image: skimage returns 1
      else cov / math.sqrt(si * sj)
    Array(contrast, dissim, homog, math.sqrt(asm), corr, asm)
  }

  val Angles: Array[Double] =
    Array(math.Pi / 4, 3 * math.Pi / 4, 5 * math.Pi / 4, 7 * math.Pi / 4)

  /** the four angles' offsets for one distance, and for each angle the
    * index of the first angle whose offset equals it or its negation
    * (itself when none earlier does). Callers take it once per
    * distance. */
  final class AnglePlan private[Glcm] (val dr: Array[Int], val dc: Array[Int],
      val first: Array[Int])

  def anglePlan(distance: Int): AnglePlan = {
    val offsets = Angles.map(offset(distance, _))
    val first = Array.tabulate(offsets.length) { i =>
      val (dr, dc) = offsets(i)
      offsets.indexWhere(o => o == ((dr, dc)) || o == ((-dr, -dc)))
    }
    new AnglePlan(offsets.map(_._1), offsets.map(_._2), first)
  }

  /** mean and std (population) over the four angles for each prop, for
    * one distance's [[anglePlan]]: Array(propIdx) = (mean, std) — the
    * glcm_mean_/glcm_std_ columns of features/texture.py:77-94. An
    * angle whose offset negates an earlier angle's (θ + π: 5π/4 after
    * π/4, 7π/4 after 3π/4) reuses that angle's properties, since the
    * symmetric matrices are equal (see `matrixAt`). */
  def meanStdOverAngles(q: Array[Int], h: Int, w: Int, levels: Int,
      plan: AnglePlan): Array[(Double, Double)] = {
    val n = plan.first.length
    val perAngle = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val f = plan.first(i)
      perAngle(i) =
        if (f < i) perAngle(f)
        else properties(matrixAt(q, h, w, levels, plan.dr(i), plan.dc(i)), levels)
      i += 1
    }
    Array.tabulate(Props.length) { p =>
      val vals = perAngle.map(_(p))
      val m = vals.sum / vals.length
      val v = vals.map(x => (x - m) * (x - m)).sum / vals.length
      (m, math.sqrt(v))
    }
  }
}
