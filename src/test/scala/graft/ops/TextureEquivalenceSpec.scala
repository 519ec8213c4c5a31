package graft.ops

import graft.kernels.{Filters, GlcmReference}
import org.scalatest.funsuite.AnyFunSuite

/** Proves Features.textureRow, which quantizes and counts GLCM pairs
  * inside the bounding box of the mask and takes sobel values only
  * where all 8 reflected neighbours are in the mask, equal to the
  * full-frame computation it replaced: quantize the whole frame, build
  * every GLCM over it ([[GlcmReference]]), and run sobel on the
  * NaN-holed frame. That computation is kept here verbatim as the
  * reference. Doubles compare by `doubleToLongBits` (-0.0 differs from
  * +0.0, every NaN equals every NaN). */
class TextureEquivalenceSpec extends AnyFunSuite {

  // ---- the full-frame reference -----------------------------------------

  private def reference(plane: Array[Float], mask: Array[Boolean],
      h: Int, w: Int): Array[Double] = {
    val out = new Array[Double](Features.texRowLen)
    var mn = Double.MaxValue; var mx = Double.MinValue
    var i = 0
    while (i < plane.length) {
      if (mask(i)) { val v = plane(i); if (v < mn) mn = v; if (v > mx) mx = v }
      i += 1
    }
    val levels = Features.TextureBins + 1
    val q = new Array[Int](plane.length)
    val step = if (mx > mn) (mx - mn) / Features.TextureBins else 1.0
    i = 0
    while (i < plane.length) {
      q(i) =
        if (!mask(i)) -1
        else if (plane(i).isNaN) -1
        else if (mx == mn) 0
        else {
          val lv = math.ceil((plane(i) - mn) / step - 1e-9).toInt
          if (lv < 0) 0 else if (lv > Features.TextureBins) Features.TextureBins else lv
        }
      i += 1
    }
    val perDistAll = Features.GlcmDistances.map(d => GlcmReference.meanStdOverAngles(q, h, w, levels, d))
    var k = 0
    graft.kernels.Glcm.Props.indices.foreach { p =>
      val perDist = perDistAll.map(_(p))
      perDist.foreach { ms => out(k) = ms._1; k += 1 }
      perDist.foreach { ms => out(k) = ms._2; k += 1 }
    }
    val holed = new Array[Float](plane.length)
    i = 0
    while (i < plane.length) {
      holed(i) = if (mask(i)) plane(i) else Float.NaN
      i += 1
    }
    val s = Filters.sobel(holed, h, w)
    var sSum = 0.0; var sN = 0L; var sMax = Double.MinValue; var sMin = Double.MaxValue
    i = 0
    while (i < s.length) {
      if (!s(i).isNaN) {
        sSum += s(i); sN += 1
        if (s(i) > sMax) sMax = s(i)
        if (s(i) < sMin) sMin = s(i)
      }
      i += 1
    }
    if (sN == 0) {
      out(k) = Double.NaN; out(k + 1) = Double.NaN
      out(k + 2) = Double.NaN; out(k + 3) = Double.NaN
    } else {
      val sMean = sSum / sN
      var ss = 0.0
      i = 0
      while (i < s.length) {
        if (!s(i).isNaN) { val d = s(i) - sMean; ss += d * d }
        i += 1
      }
      out(k) = sMean
      out(k + 1) = math.sqrt(ss / sN)
      out(k + 2) = sMax
      out(k + 3) = sMin
    }
    out
  }

  // ---- cases ------------------------------------------------------------

  private def bits(xs: Array[Double]) = xs.toSeq.map(java.lang.Double.doubleToLongBits)

  private def check(what: String, plane: Array[Float], mask: Array[Boolean], h: Int, w: Int): Unit = {
    val got = Features.textureRow(plane, mask, h, w)
    val want = reference(plane, mask, h, w)
    assert(bits(got) == bits(want), s"$what ${h}x$w:\n got ${got.toSeq}\nwant ${want.toSeq}")
  }

  private def noisePlane(rng: scala.util.Random, h: Int, w: Int): Array[Float] =
    Array.fill(h * w)((50 + 20 * rng.nextGaussian()).toFloat)

  private def maskOf(h: Int, w: Int)(in: (Int, Int) => Boolean): Array[Boolean] =
    Array.tabulate(h * w)(i => in(i / w, i % w))

  private val sizes = Seq((1, 1), (1, 9), (9, 1), (2, 2), (7, 11), (16, 16), (23, 19))

  test("disks with one-pixel holes, the centre of a full window missing") {
    val rng = new scala.util.Random(3)
    for ((h, w) <- sizes) {
      val (cy, cx) = (h / 2, w / 2)
      val rad = math.max(h, w) / 2.0 + 0.5
      val disk = maskOf(h, w)((r, c) => (r - cy) * (r - cy) + (c - cx) * (c - cx) <= rad * rad)
      val holed = disk.clone()
      for (_ <- 0 until math.max(1, h * w / 20)) holed(rng.nextInt(h * w)) = false
      val plane = noisePlane(rng, h, w)
      check("disk", plane, disk, h, w)
      check("holed disk", plane, holed, h, w)
      // an isolated hole inside a full block: its 8 neighbours are in
      holed.indices.foreach(holed(_) = true)
      holed(cy * w + cx) = false
      check("one hole", plane, holed, h, w)
    }
  }

  test("masks touching each border and every corner") {
    val rng = new scala.util.Random(5)
    for ((h, w) <- sizes) {
      val plane = noisePlane(rng, h, w)
      check("full", plane, Array.fill(h * w)(true), h, w)
      check("top", plane, maskOf(h, w)((r, _) => r < math.max(1, h / 3)), h, w)
      check("bottom", plane, maskOf(h, w)((r, _) => r >= h - math.max(1, h / 3)), h, w)
      check("left", plane, maskOf(h, w)((_, c) => c < math.max(1, w / 3)), h, w)
      check("right", plane, maskOf(h, w)((_, c) => c >= w - math.max(1, w / 3)), h, w)
      check("corners", plane, maskOf(h, w)((r, c) =>
        (r < 3 || r >= h - 3) && (c < 3 || c >= w - 3)), h, w)
    }
  }

  test("single pixels, lines and rings") {
    val rng = new scala.util.Random(7)
    for ((h, w) <- sizes) {
      val plane = noisePlane(rng, h, w)
      for (i <- Seq(0, h * w - 1, (h / 2) * w + w / 2))
        check(s"pixel $i", plane, maskOf(h, w)((r, c) => r * w + c == i), h, w)
      check("row", plane, maskOf(h, w)((r, _) => r == h / 2), h, w)
      check("column", plane, maskOf(h, w)((_, c) => c == w / 2), h, w)
      check("diagonal", plane, maskOf(h, w)((r, c) => r == c), h, w)
      check("thick line", plane, maskOf(h, w)((r, _) => r == h / 2 || r == h / 2 + 1), h, w)
      val (cy, cx) = (h / 2.0, w / 2.0)
      for (width <- Seq(1.0, 2.5)) {
        val outer = math.min(h, w) / 2.0
        check(s"ring $width", plane, maskOf(h, w) { (r, c) =>
          val d = math.sqrt((r - cy) * (r - cy) + (c - cx) * (c - cx))
          d <= outer && d > outer - width
        }, h, w)
      }
    }
  }

  test("an empty mask: GLCM of no pairs, NaN sobel stats") {
    for ((h, w) <- sizes :+ ((0, 0)) :+ ((0, 5)))
      check("empty", noisePlane(new scala.util.Random(1), h, w), new Array[Boolean](h * w), h, w)
  }

  test("NaN and ±Inf inside the mask") {
    val rng = new scala.util.Random(9)
    for ((h, w) <- sizes; special <- Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)) {
      val plane = noisePlane(rng, h, w)
      val mask = maskOf(h, w)((r, c) => r > 0 || c > 0 || h * w == 1)
      for (_ <- 0 until math.max(1, h * w / 15)) plane(rng.nextInt(h * w)) = special
      check(s"$special", plane, mask, h, w)
      // both infinities at once: the sobel window takes Inf - Inf = NaN
      plane(rng.nextInt(h * w)) = Float.PositiveInfinity
      plane(rng.nextInt(h * w)) = Float.NegativeInfinity
      check(s"$special and both infinities", plane, mask, h, w)
      check(s"$special all special", Array.fill(h * w)(special), mask, h, w)
    }
  }

  test("constant planes, with and without ±0.0") {
    val rng = new scala.util.Random(13)
    for ((h, w) <- sizes; v <- Seq(0.0f, -0.0f, 7.25f)) {
      val mask = Array.fill(h * w)(rng.nextDouble() < 0.7)
      check(s"constant $v", Array.fill(h * w)(v), mask, h, w)
      check(s"constant $v full", Array.fill(h * w)(v), Array.fill(h * w)(true), h, w)
    }
    val signed = Array.tabulate(64)(i => if (i % 2 == 0) 0.0f else -0.0f)
    check("signed zeros", signed, Array.fill(64)(true), 8, 8)
  }

  test("seeded random masks and planes") {
    val rng = new scala.util.Random(17)
    for (trial <- 0 until 60) {
      val h = 1 + rng.nextInt(30); val w = 1 + rng.nextInt(30)
      val fill = rng.nextDouble()
      val plane = noisePlane(rng, h, w)
      // blobby: a random box, filled with probability `fill`
      val (r0, c0) = (rng.nextInt(h), rng.nextInt(w))
      val (r1, c1) = (r0 + rng.nextInt(h - r0 + 1), c0 + rng.nextInt(w - c0 + 1))
      check(s"trial $trial", plane, maskOf(h, w)((r, c) =>
        r >= r0 && r < r1 && c >= c0 && c < c1 && rng.nextDouble() < math.max(fill, 0.5)), h, w)
    }
  }
}
