package graft.kernels

import org.scalatest.funsuite.AnyFunSuite

/** Proves the row-span and table-indexed window kernels (Filters'
  * grayscale rank filters and sobel, medianDisk's cached footprint,
  * Morphology's binary erosion/dilation) and the row-at-a-time gaussian
  * equal to the naive per-offset window scans they replaced, which are
  * kept here verbatim as the reference.
  *
  * Floats compare by `floatToIntBits`, with one documented exception
  * for the rank filters (erode, dilate, open, close, whiteTophat): when
  * −0.0 and +0.0 both hold a window's extreme, the naive scan keeps the
  * first in footprint order and the spans may keep the other, so two
  * zeros of either sign count as equal there. Thresholded masks of
  * every output must agree exactly. */
class WindowKernelEquivalenceSpec extends AnyFunSuite {

  // ---- the naive reference kernels ------------------------------------

  private def reflect(i: Int, n: Int): Int = {
    var x = i
    if (n == 1) return 0
    val period = 2 * n
    x = ((x % period) + period) % period
    if (x >= n) period - 1 - x else x
  }

  private def diskOffsets(radius: Int): Array[(Int, Int)] = {
    val buf = Array.newBuilder[(Int, Int)]
    for (dr <- -radius to radius; dc <- -radius to radius)
      if (dr * dr + dc * dc <= radius * radius) buf += ((dr, dc))
    buf.result()
  }

  private def naiveExtreme(img: Array[Float], h: Int, w: Int, radius: Int,
      isMin: Boolean): Array[Float] = {
    val offs = diskOffsets(radius)
    val out = new Array[Float](h * w)
    for (r <- 0 until h; c <- 0 until w) {
      var ext = if (isMin) Float.MaxValue else Float.MinValue
      for ((dr, dc) <- offs) {
        val v = img(reflect(r + dr, h) * w + reflect(c + dc, w))
        if (isMin) { if (v < ext) ext = v } else if (v > ext) ext = v
      }
      out(r * w + c) = ext
    }
    out
  }

  private def naiveErode(img: Array[Float], h: Int, w: Int, r: Int) = naiveExtreme(img, h, w, r, true)
  private def naiveDilate(img: Array[Float], h: Int, w: Int, r: Int) = naiveExtreme(img, h, w, r, false)
  private def naiveOpen(img: Array[Float], h: Int, w: Int, r: Int) =
    naiveDilate(naiveErode(img, h, w, r), h, w, r)
  private def naiveClose(img: Array[Float], h: Int, w: Int, r: Int) =
    naiveErode(naiveDilate(img, h, w, r), h, w, r)
  private def naiveTophat(img: Array[Float], h: Int, w: Int, r: Int) = {
    val opened = naiveOpen(img, h, w, r)
    img.indices.map(i => img(i) - opened(i)).toArray
  }

  private def naiveSobel(img: Array[Float], h: Int, w: Int): Array[Float] = {
    val out = new Array[Float](h * w)
    for (r <- 0 until h; c <- 0 until w) {
      def p(dr: Int, dc: Int): Double = img(reflect(r + dr, h) * w + reflect(c + dc, w))
      val gy = ((p(-1, -1) + 2 * p(-1, 0) + p(-1, 1)) -
        (p(1, -1) + 2 * p(1, 0) + p(1, 1))) / 4.0
      val gx = ((p(-1, -1) + 2 * p(0, -1) + p(1, -1)) -
        (p(-1, 1) + 2 * p(0, 1) + p(1, 1))) / 4.0
      out(r * w + c) = (math.sqrt(gx * gx + gy * gy) / math.sqrt(2.0)).toFloat
    }
    out
  }

  private def naiveMedianDisk(img: Array[Float], h: Int, w: Int, radius: Int): Array[Float] = {
    val offs = diskOffsets(radius)
    val out = new Array[Float](h * w)
    val window = new Array[Float](offs.length)
    for (r <- 0 until h; c <- 0 until w) {
      var n = 0
      for ((dr, dc) <- offs) {
        val rr = r + dr; val cc = c + dc
        if (rr >= 0 && rr < h && cc >= 0 && cc < w) { window(n) = img(rr * w + cc); n += 1 }
      }
      out(r * w + c) = quickSelect(window, n, n / 2)
    }
    out
  }

  /** Filters' quickselect: with NaN in a window the result depends on
    * the order the window was filled in, which the reference keeps */
  private def quickSelect(a: Array[Float], n: Int, k: Int): Float = {
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val pivot = a((lo + hi) >>> 1)
      var i = lo
      var j = hi
      while (i <= j) {
        while (a(i) < pivot) i += 1
        while (a(j) > pivot) j -= 1
        if (i <= j) {
          val t = a(i); a(i) = a(j); a(j) = t
          i += 1; j -= 1
        }
      }
      if (k <= j) hi = j
      else if (k >= i) lo = i
      else return a(k)
    }
    a(lo)
  }

  private def naiveErodeBinary(mask: Array[Boolean], h: Int, w: Int, radius: Int): Array[Boolean] = {
    val offs = diskOffsets(radius)
    Array.tabulate(h * w) { i =>
      val r = i / w; val c = i % w
      offs.forall { case (dr, dc) =>
        val rr = r + dr; val cc = c + dc
        !(rr >= 0 && rr < h && cc >= 0 && cc < w) || mask(rr * w + cc)
      }
    }
  }

  private def naiveDilateBinary(mask: Array[Boolean], h: Int, w: Int, radius: Int): Array[Boolean] = {
    val offs = diskOffsets(radius)
    Array.tabulate(h * w) { i =>
      val r = i / w; val c = i % w
      offs.exists { case (dr, dc) =>
        val rr = r + dr; val cc = c + dc
        rr >= 0 && rr < h && cc >= 0 && cc < w && mask(rr * w + cc)
      }
    }
  }

  /** the per-pixel gaussian with a clamped read per tap */
  private def naiveGaussian(img: Array[Float], h: Int, w: Int, sigma: Double): Array[Float] = {
    if (sigma <= 0) return img.clone()
    val radius = (4.0 * sigma + 0.5).toInt
    val kernel = new Array[Double](2 * radius + 1)
    var s = 0.0
    var i = -radius
    while (i <= radius) {
      val v = math.exp(-(i * i) / (2.0 * sigma * sigma))
      kernel(i + radius) = v; s += v; i += 1
    }
    i = 0
    while (i < kernel.length) { kernel(i) /= s; i += 1 }
    def clampIdx(i: Int, n: Int): Int = if (i < 0) 0 else if (i >= n) n - 1 else i
    val tmp = new Array[Float](h * w)
    val out = new Array[Float](h * w)
    for (r <- 0 until h; c <- 0 until w) {
      var acc = 0.0; var k = -radius
      while (k <= radius) {
        acc += kernel(k + radius) * img(r * w + clampIdx(c + k, w)); k += 1
      }
      tmp(r * w + c) = acc.toFloat
    }
    for (r <- 0 until h; c <- 0 until w) {
      var acc = 0.0; var k = -radius
      while (k <= radius) {
        acc += kernel(k + radius) * tmp(clampIdx(r + k, h) * w + c); k += 1
      }
      out(r * w + c) = acc.toFloat
    }
    out
  }

  // ---- inputs -----------------------------------------------------------

  private val sizes = Seq((1, 1), (1, 9), (3, 2), (7, 5), (44, 52))
  private val radii = 0 to 6
  private val cancelling = Array(0f, 1f, -1f, 0.5f, math.pow(2, 60).toFloat,
    -math.pow(2, 60).toFloat, math.pow(2, 59).toFloat, -math.pow(2, 59).toFloat)
  private val specials = Array(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
    0f, -0f, Float.MaxValue, Float.MinValue)

  /** named seeded planes of one size: smooth, cancelling,
    * integer ties, signed zeros, specials mixed in, and constant planes */
  private def planes(h: Int, w: Int, seed: Int): Seq[(String, Array[Float])] = {
    val rng = new scala.util.Random(seed)
    val n = h * w
    Seq(
      "gaussian" -> Array.fill(n)(rng.nextGaussian().toFloat),
      // ±2^60 next to ±1: double sums round and cancel, so the order
      // of sobel's additions shows in its output
      "cancelling" -> Array.fill(n)(cancelling(rng.nextInt(cancelling.length))),
      "ties" -> Array.fill(n)((rng.nextInt(5) - 2).toFloat),
      "signed-zeros" -> Array.fill(n)(if (rng.nextBoolean()) 0f else -0f),
      "specials" -> Array.fill(n)(
        if (rng.nextDouble() < 0.3) specials(rng.nextInt(specials.length))
        else (rng.nextInt(7) - 3).toFloat),
      "const" -> Array.fill(n)(2.5f),
      "const-nan" -> Array.fill(n)(Float.NaN),
      "const-inf" -> Array.fill(n)(Float.PositiveInfinity),
      "const-neg-inf" -> Array.fill(n)(Float.NegativeInfinity))
  }

  private def masks(h: Int, w: Int, seed: Int): Seq[(String, Array[Boolean])] = {
    val rng = new scala.util.Random(seed)
    Seq(0.1, 0.5, 0.9).map(p => s"p=$p" -> Array.fill(h * w)(rng.nextDouble() < p)) ++
      Seq("all" -> Array.fill(h * w)(true), "none" -> new Array[Boolean](h * w))
  }

  // ---- comparison ----------------------------------------------------------

  private def bits(v: Float): Int = java.lang.Float.floatToIntBits(v)

  private def thresholds(ref: Array[Float]): Seq[Float] = {
    val finite = ref.filter(v => !v.isNaN && !v.isInfinite).sorted(Ordering.Float.TotalOrdering)
    Seq(0f, -0f, 1f) ++ (if (finite.isEmpty) Nil else Seq(finite(finite.length / 2)))
  }

  private def assertSame(what: String, got: Array[Float], ref: Array[Float],
      zeroSignFree: Boolean): Unit = {
    assert(got.length == ref.length, what)
    var i = 0
    while (i < ref.length) {
      val ok = bits(got(i)) == bits(ref(i)) || (zeroSignFree && got(i) == 0f && ref(i) == 0f)
      assert(ok, s"$what at $i: ${got(i)} vs ${ref(i)}")
      i += 1
    }
    for (t <- thresholds(ref)) {
      assert(got.map(_ > t).sameElements(ref.map(_ > t)), s"$what: mask > $t")
      assert(got.map(_ >= t).sameElements(ref.map(_ >= t)), s"$what: mask >= $t")
    }
  }

  private def forAllPlanes(body: (String, Array[Float], Int, Int) => Unit): Unit =
    for (((h, w), s) <- sizes.zipWithIndex; (name, img) <- planes(h, w, 7 + s))
      body(s"${h}x$w $name", img, h, w)

  // ---- the kernels -----------------------------------------------------------

  test("grayscale erode/dilate/open/close/whiteTophat == naive disk scan") {
    forAllPlanes { (tag, img, h, w) =>
      for (r <- radii) {
        val t = s"$tag r=$r"
        assertSame(s"erode $t", Filters.erodeGray(img, h, w, r), naiveErode(img, h, w, r), true)
        assertSame(s"dilate $t", Filters.dilateGray(img, h, w, r), naiveDilate(img, h, w, r), true)
        assertSame(s"open $t", Filters.openGray(img, h, w, r), naiveOpen(img, h, w, r), true)
        assertSame(s"close $t", Filters.closeGray(img, h, w, r), naiveClose(img, h, w, r), true)
        assertSame(s"tophat $t", Filters.whiteTophat(img, h, w, r), naiveTophat(img, h, w, r), true)
      }
    }
  }

  test("the rank filters differ from the naive scan only in the sign of a tied zero") {
    // the exception is real but narrow: on planes without ±0 ties the
    // outputs are bit-identical
    forAllPlanes { (tag, img, h, w) =>
      if (!img.exists(_ == 0f)) for (r <- radii) {
        assertSame(s"erode $tag r=$r", Filters.erodeGray(img, h, w, r), naiveErode(img, h, w, r), false)
        assertSame(s"tophat $tag r=$r", Filters.whiteTophat(img, h, w, r), naiveTophat(img, h, w, r), false)
      }
    }
  }

  test("gaussian == naive clamped per-pixel taps, bit for bit") {
    forAllPlanes { (tag, img, h, w) =>
      for (sigma <- Seq(0.0, 0.2, 0.5, 0.75, 1.0, 1.5, 3.0))
        assertSame(s"gaussian $tag sigma=$sigma", Filters.gaussian(img, h, w, sigma),
          naiveGaussian(img, h, w, sigma), false)
    }
  }

  test("sobel == naive reflected 3x3 window, bit for bit") {
    forAllPlanes { (tag, img, h, w) =>
      assertSame(s"sobel $tag", Filters.sobel(img, h, w), naiveSobel(img, h, w), false)
    }
  }

  test("medianDisk == naive in-image disk window, bit for bit") {
    forAllPlanes { (tag, img, h, w) =>
      for (r <- radii)
        assertSame(s"median $tag r=$r", Filters.medianDisk(img, h, w, r),
          naiveMedianDisk(img, h, w, r), false)
    }
  }

  test("binary erode/dilate/edgeBand == naive disk scan, incl. border rules") {
    for (((h, w), s) <- sizes.zipWithIndex; (name, m) <- masks(h, w, 31 + s); r <- radii) {
      val t = s"${h}x$w $name r=$r"
      val er = naiveErodeBinary(m, h, w, r)
      assert(Morphology.erodeBinary(m, h, w, r).sameElements(er), s"erode $t")
      assert(Morphology.dilateBinary(m, h, w, r).sameElements(naiveDilateBinary(m, h, w, r)), s"dilate $t")
      val band = m.indices.map(i => m(i) ^ er(i)).toArray
      assert(Morphology.edgeBand(m, h, w, r).sameElements(band), s"edgeBand $t")
    }
  }

  test("disk half-widths: the disk's rows, one shared table per radius") {
    for (r <- 0 to 40) {
      val hw = Filters.diskHalfWidths(r)
      val fromRows = hw.indices.flatMap(i => (-hw(i) to hw(i)).map(dc => (i - r, dc)))
      assert(fromRows == diskOffsets(r).toSeq, s"radius $r")
      if (r <= 32) assert(Filters.diskHalfWidths(r) eq hw, s"radius $r rebuilt")
    }
  }

  test("Morphology.any") {
    assert(!Morphology.any(Array.empty[Boolean]))
    assert(!Morphology.any(new Array[Boolean](9)))
    assert(Morphology.any(Array(false, false, true)))
  }
}
