package graft.kernels

import org.scalatest.funsuite.AnyFunSuite

/** The full-frame GLCM as it was before matrices were counted in `Int`
  * over the bounding box of the mask, kept verbatim as the reference:
  * each valid pair adds 1.0 to both (a, b) and (b, a) of a `Double`
  * matrix over the whole frame, and the angle plan is found per call. */
object GlcmReference {

  def matrixAt(q: Array[Int], h: Int, w: Int, levels: Int,
      dr: Int, dc: Int): Array[Double] = {
    val m = new Array[Double](levels * levels)
    var r = 0
    var total = 0.0
    while (r < h) {
      var c = 0
      while (c < w) {
        val rr = r + dr; val cc = c + dc
        if (rr >= 0 && rr < h && cc >= 0 && cc < w) {
          val a = q(r * w + c); val b = q(rr * w + cc)
          if (a >= 0 && b >= 0) {
            m(a * levels + b) += 1.0
            m(b * levels + a) += 1.0 // symmetric
            total += 2.0
          }
        }
        c += 1
      }
      r += 1
    }
    if (total > 0) {
      var i = 0
      while (i < m.length) { m(i) /= total; i += 1 }
    }
    m
  }

  def meanStdOverAngles(q: Array[Int], h: Int, w: Int, levels: Int,
      distance: Int): Array[(Double, Double)] = {
    val offsets = Glcm.Angles.map(Glcm.offset(distance, _))
    val perAngle = new Array[Array[Double]](offsets.length)
    for (i <- offsets.indices) {
      val (dr, dc) = offsets(i)
      val first = offsets.indexWhere(o => o == ((dr, dc)) || o == ((-dr, -dc)))
      perAngle(i) =
        if (first < i) perAngle(first)
        else Glcm.properties(matrixAt(q, h, w, levels, dr, dc), levels)
    }
    Array.tabulate(Glcm.Props.length) { p =>
      val vals = perAngle.map(_(p))
      val m = vals.sum / vals.length
      val v = vals.map(x => (x - m) * (x - m)).sum / vals.length
      (m, math.sqrt(v))
    }
  }
}

/** Proves the rebuttal to round-1 ADVICE #2: normalizing the GLCM over
  * valid pairs only (Glcm.matrix) is numerically identical to the
  * reference pipeline graycomatrix(normed=True) over ALL pairs
  * including the NaN bin, cropped [:-1,:-1], then re-normalized by
  * graycoprops before property computation (skimage does that
  * re-normalization unconditionally). */
class GlcmEquivalenceSpec extends AnyFunSuite {

  /** the literal skimage pipeline: (levels+1)-bin matrix with invalid
    * pixels in the last bin, normalize over everything, crop, then the
    * graycoprops re-normalization */
  private def skimagePipeline(q: Array[Int], h: Int, w: Int, levels: Int,
      distance: Int, angleRad: Double): Array[Double] = {
    val full = levels + 1
    val dr = math.round(distance * math.sin(angleRad)).toInt
    val dc = math.round(distance * math.cos(angleRad)).toInt
    val m = new Array[Double](full * full)
    var total = 0.0
    for (r <- 0 until h; c <- 0 until w) {
      val rr = r + dr; val cc = c + dc
      if (rr >= 0 && rr < h && cc >= 0 && cc < w) {
        val a = if (q(r * w + c) < 0) levels else q(r * w + c)
        val b = if (q(rr * w + cc) < 0) levels else q(rr * w + cc)
        m(a * full + b) += 1.0; m(b * full + a) += 1.0 // symmetric
        total += 2.0
      }
    }
    if (total > 0) for (i <- m.indices) m(i) /= total // normed=True
    // crop [:-1,:-1]
    val cropped = Array.tabulate(levels * levels) { i =>
      m((i / levels) * full + (i % levels))
    }
    // graycoprops re-normalization
    val s = cropped.sum
    if (s > 0) cropped.map(_ / s) else cropped
  }

  test("valid-pair normalization == normed+crop+renormalize, all props") {
    val rng = new scala.util.Random(11)
    val levels = 16
    for (trial <- 0 until 6) {
      val h = 8 + rng.nextInt(8); val w = 8 + rng.nextInt(8)
      val q = Array.fill(h * w)(
        if (rng.nextDouble() < 0.3) -1 else rng.nextInt(levels)) // 30% masked
      for (d <- Seq(3, 5); a <- Glcm.Angles) {
        val mine = Glcm.properties(Glcm.matrix(q, h, w, levels, d, a), levels)
        val ref = Glcm.properties(skimagePipeline(q, h, w, levels, d, a), levels)
        mine.zip(ref).zipWithIndex.foreach { case ((x, y), p) =>
          assert(math.abs(x - y) < 1e-12,
            s"trial $trial d=$d a=$a prop=${Glcm.Props(p)}: $x vs $y")
        }
      }
    }
  }

  test("all-masked window: correlation 1, others 0 (both pipelines)") {
    val q = Array.fill(36)(-1)
    val mine = Glcm.properties(Glcm.matrix(q, 6, 6, 16, 3, Glcm.Angles.head), 16)
    assert(mine.toSeq == Seq(0.0, 0.0, 0.0, 0.0, 1.0, 0.0))
  }
  /** seeded 30%-masked quantized planes */
  private def maskedPlanes(seed: Int, levels: Int): Seq[(Array[Int], Int, Int)] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(8) {
      val h = 1 + rng.nextInt(14); val w = 1 + rng.nextInt(14)
      (Array.fill(h * w)(if (rng.nextDouble() < 0.3) -1 else rng.nextInt(levels)), h, w)
    }
  }

  test("θ and θ+π: negated offsets, equal matrices bit for bit") {
    val levels = 16
    for (d <- Seq(3, 5); i <- 0 until 2) {
      val (a, b) = (Glcm.Angles(i), Glcm.Angles(i + 2))
      val (dr, dc) = Glcm.offset(d, a)
      assert(Glcm.offset(d, b) == ((-dr, -dc)), s"d=$d angle $i")
      for ((q, h, w) <- maskedPlanes(17, levels)) {
        val (m1, m2) = (Glcm.matrix(q, h, w, levels, d, a), Glcm.matrix(q, h, w, levels, d, b))
        assert(m1.map(java.lang.Double.doubleToLongBits).toSeq ==
          m2.map(java.lang.Double.doubleToLongBits).toSeq, s"d=$d angle $i ${h}x$w")
      }
    }
  }

  test("meanStdOverAngles equals one matrix per angle, bit for bit") {
    val levels = 16
    for (d <- Seq(3, 5); (q, h, w) <- maskedPlanes(23, levels)) {
      val perAngle = Glcm.Angles.map(a => Glcm.properties(Glcm.matrix(q, h, w, levels, d, a), levels))
      val want = Array.tabulate(Glcm.Props.length) { p =>
        val vals = perAngle.map(_(p))
        val m = vals.sum / vals.length
        (m, math.sqrt(vals.map(x => (x - m) * (x - m)).sum / vals.length))
      }
      val got = Glcm.meanStdOverAngles(q, h, w, levels, Glcm.anglePlan(d))
      def bits(xs: Array[(Double, Double)]) = xs.toSeq.map { case (m, s) =>
        (java.lang.Double.doubleToLongBits(m), java.lang.Double.doubleToLongBits(s))
      }
      assert(bits(got) == bits(want), s"d=$d ${h}x$w")
    }
  }

  test("Int counts over the mask's box equal the full-frame Double matrix, bit for bit") {
    val levels = 16
    val rng = new scala.util.Random(29)
    def bits(m: Array[Double]) = m.toSeq.map(java.lang.Double.doubleToLongBits)
    for (trial <- 0 until 40) {
      val h = 1 + rng.nextInt(16); val w = 1 + rng.nextInt(16)
      // valid pixels inside a random box, sparse or dense; none outside
      val (r0, c0) = (rng.nextInt(h), rng.nextInt(w))
      val (r1, c1) = (r0 + 1 + rng.nextInt(h - r0), c0 + 1 + rng.nextInt(w - c0))
      val fill = if (trial % 4 == 0) 1.0 else 0.2 + 0.7 * rng.nextDouble()
      val q = Array.tabulate(h * w) { i =>
        val (r, c) = (i / w, i % w)
        if (r >= r0 && r < r1 && c >= c0 && c < c1 && rng.nextDouble() < fill)
          rng.nextInt(if (trial % 5 == 0) 2 else levels) else -1
      }
      val (bh, bw) = (r1 - r0, c1 - c0)
      val box = Array.tabulate(bh * bw)(i => q((i / bw + r0) * w + i % bw + c0))
      for (d <- Seq(1, 3, 5); a <- Glcm.Angles) {
        val (dr, dc) = Glcm.offset(d, a)
        val want = GlcmReference.matrixAt(q, h, w, levels, dr, dc)
        assert(bits(Glcm.matrix(box, bh, bw, levels, d, a)) == bits(want),
          s"trial $trial d=$d a=$a ${h}x$w box [$r0,$r1)x[$c0,$c1)")
        assert(bits(Glcm.matrix(q, h, w, levels, d, a)) == bits(want), s"trial $trial full frame")
      }
      for (d <- Seq(3, 5)) {
        def msBits(xs: Array[(Double, Double)]) = xs.toSeq.map { case (m, s) =>
          (java.lang.Double.doubleToLongBits(m), java.lang.Double.doubleToLongBits(s))
        }
        assert(msBits(Glcm.meanStdOverAngles(box, bh, bw, levels, Glcm.anglePlan(d))) ==
          msBits(GlcmReference.meanStdOverAngles(q, h, w, levels, d)), s"trial $trial d=$d")
      }
    }
  }
}
