package graft.kernels

import org.scalatest.funsuite.AnyFunSuite

/** Golden/invariant tests for the 2-D kernel primitives on tiny
  * hand-checkable images.
  */
class ImageOpsSpec extends AnyFunSuite {

  def img(h: Int, w: Int)(f: (Int, Int) => Float): Array[Float] =
    Array.tabulate(h * w)(i => f(i / w, i % w))
  def mask(h: Int, w: Int)(f: (Int, Int) => Boolean): Array[Boolean] =
    Array.tabulate(h * w)(i => f(i / w, i % w))

  // ---- filters ----------------------------------------------------------

  test("gaussian preserves a constant image and the global mean") {
    val flat = Array.fill(100)(3.5f)
    assert(Filters.gaussian(flat, 10, 10, 1.5).forall(v => math.abs(v - 3.5f) < 1e-5))
    val ramp = img(10, 10)((r, c) => (r + c).toFloat)
    val blurred = Filters.gaussian(ramp, 10, 10, 1.0)
    // reflect boundary preserves total mass for symmetric kernels
    assert(math.abs(Stats.mean(blurred) - Stats.mean(ramp)) < 1e-3)
  }

  test("sobel: zero on constant, peak along a step edge") {
    val flat = Array.fill(64)(2f)
    assert(Filters.sobel(flat, 8, 8).forall(_ == 0f))
    val step = img(8, 8)((_, c) => if (c < 4) 0f else 1f)
    val s = Filters.sobel(step, 8, 8)
    // columns 3 and 4 carry the edge; interior rows see |gx|/sqrt(2)
    // (skimage.filters.sobel normalizes the magnitude by sqrt(ndim))
    assert(math.abs(s(2 * 8 + 3) - 1.0 / math.sqrt(2.0)) < 1e-5)
    assert(s(2 * 8 + 0) == 0f)
  }

  test("nlMeansDenoise: constant invariance, smoothing, reflect border") {
    // constant image is a fixed point (all weights 1, every patch equal)
    val flat = Array.fill(49)(3.5f)
    assert(Filters.nlMeansDenoise(flat, 7, 7).forall(v => math.abs(v - 3.5f) < 1e-6))
    // an impulse is pulled toward the background but not eliminated
    val imp = Array.fill(49)(0f); imp(3 * 7 + 3) = 1f
    val den = Filters.nlMeansDenoise(imp, 7, 7)
    assert(den(3 * 7 + 3) < 1f && den(3 * 7 + 3) > 0f)
    // independent recompute on an explicitly numpy-'reflect'-padded
    // array (edge not duplicated) must agree exactly
    val rng = new scala.util.Random(9)
    val h = 6; val w = 5
    val img = Array.fill(h * w)(rng.nextFloat())
    val pad = 2 + 1 // patchDistance + patch offset
    val ph = h + 2 * pad; val pw = w + 2 * pad
    def mirrorIdx(i: Int, n: Int): Int = {
      val period = 2 * n - 2
      val x = ((i % period) + period) % period
      if (x >= n) period - x else x
    }
    val padded = Array.tabulate(ph * pw) { i =>
      val r = i / pw - pad; val c = i % pw - pad
      img(mirrorIdx(r, h) * w + mirrorIdx(c, w))
    }
    val got = Filters.nlMeansDenoise(img, h, w)
    for (r <- 0 until h; c <- 0 until w) {
      var wsum = 0.0; var acc = 0.0
      for (dr <- -2 to 2; dc <- -2 to 2) {
        var d2 = 0.0
        for (pr <- -1 to 1; pc <- -1 to 1) {
          val a = padded((r + pad + pr) * pw + (c + pad + pc))
          val b = padded((r + pad + dr + pr) * pw + (c + pad + dc + pc))
          d2 += (a - b).toDouble * (a - b)
        }
        val wgt = math.exp(-math.max(d2 / 9.0, 0.0) / 0.01)
        wsum += wgt
        acc += wgt * padded((r + pad + dr) * pw + (c + pad + dc))
      }
      assert(math.abs(got(r * w + c) - acc / wsum) < 1e-6, s"($r,$c)")
    }
  }

  test("medianDisk removes isolated impulse noise") {
    val base = Array.fill(81)(1f)
    base(4 * 9 + 4) = 100f
    val m = Filters.medianDisk(base, 9, 9, 2)
    assert(m(4 * 9 + 4) == 1f)
  }

  test("whiteTophat isolates small bright spots") {
    val base = img(11, 11)((r, c) => if (r == 5 && c == 5) 10f else 0f)
    val th = Filters.whiteTophat(base, 11, 11, 3)
    assert(th(5 * 11 + 5) == 10f)
    assert(th(0) == 0f)
    // a feature larger than the disk is NOT preserved by tophat
    val big = img(11, 11)((r, c) => if (r >= 2 && r <= 8 && c >= 2 && c <= 8) 10f else 0f)
    val th2 = Filters.whiteTophat(big, 11, 11, 2)
    assert(th2(5 * 11 + 5) == 0f)
  }

  test("otsu separates a bimodal image") {
    val bi = img(10, 10)((r, _) => if (r < 5) 10f else 90f)
    val t = Thresholds.otsu(bi)
    assert(t > 10 && t < 90)
    val constT = Thresholds.otsu(Array.fill(16)(5f))
    assert(constT == 5f)
  }

  test("li separates a bimodal image") {
    val bi = img(10, 10)((r, _) => if (r < 5) 10f else 90f)
    val t = Thresholds.li(bi)
    assert(t > 10 && t < 90)
  }

  // ---- morphology -------------------------------------------------------

  test("erode/dilate duality on a square") {
    val sq = mask(9, 9)((r, c) => r >= 2 && r <= 6 && c >= 2 && c <= 6)
    val er = Morphology.erodeBinary(sq, 9, 9, 1)
    assert(er.count(identity) == 9) // 5x5 square erodes to 3x3 with disk(1)
    val di = Morphology.dilateBinary(sq, 9, 9, 1)
    assert(di.count(identity) == 25 + 4 * 5) // square grows by cross arms
  }

  test("label: two 8-connected components, scan-order ids") {
    val m = mask(5, 5)((r, c) => (r < 2 && c < 2) || (r > 3 && c > 3))
    val l = Morphology.label(m, 5, 5)
    assert(Morphology.labelCount(l) == 2)
    assert(l(0) == 1)          // top-left first in scan order
    assert(l(4 * 5 + 4) == 2)
    // diagonal touch merges under 8-conn, splits under 4-conn
    val diag = mask(4, 4)((r, c) => r == c)
    assert(Morphology.labelCount(Morphology.label(diag, 4, 4, 2)) == 1)
    assert(Morphology.labelCount(Morphology.label(diag, 4, 4, 1)) == 4)
  }

  test("removeSmallObjects and removeSmallHoles") {
    val m = mask(8, 8)((r, c) => (r >= 1 && r <= 4 && c >= 1 && c <= 4) || (r == 6 && c == 6))
    val cleaned = Morphology.removeSmallObjects(m, 8, 8, 5)
    assert(cleaned(6 * 8 + 6) == false)
    assert(cleaned(2 * 8 + 2))
    // 16-px square with a 1-px hole
    val holed = mask(6, 6)((r, c) => r >= 1 && r <= 4 && c >= 1 && c <= 4 && !(r == 2 && c == 2))
    val filled = Morphology.removeSmallHoles(holed, 6, 6, 4)
    assert(filled(2 * 6 + 2))
  }

  test("expandLabels grows by euclidean distance 1 (4-neighbors only)") {
    val labels = new Array[Int](25)
    labels(2 * 5 + 2) = 7
    val e = Morphology.expandLabels(labels, 5, 5, 1.0)
    assert(e(2 * 5 + 2) == 7 && e(1 * 5 + 2) == 7 && e(2 * 5 + 1) == 7)
    assert(e(1 * 5 + 1) == 0) // diagonal is distance sqrt(2) > 1
  }

  test("scrubBorder drops components hugging a border") {
    // a component spanning the full top row + a small interior blob
    val m = mask(8, 8)((r, c) => r == 0 || (r >= 4 && r <= 5 && c >= 4 && c <= 5))
    val (scrubbed, n) = Morphology.scrubBorder(m, 8, 8)
    assert(n == 1)
    assert(!scrubbed(0))
    assert(scrubbed(4 * 8 + 4))
  }

  // ---- distance transform / watershed -----------------------------------

  test("EDT of a square: center distance = 3 (exact euclidean)") {
    val sq = mask(11, 11)((r, c) => r >= 3 && r <= 7 && c >= 3 && c <= 7)
    val d = Watershed.distanceTransform(sq, 11, 11)
    assert(d(5 * 11 + 5) == 3.0) // 5x5 square: center is 3 away from background
    assert(d(0) == 0.0)
    assert(d(3 * 11 + 3) == 1.0) // corner of the square
  }

  test("peakLocalMax finds separated maxima") {
    val m = new Array[Double](15 * 15)
    m(3 * 15 + 3) = 5.0
    m(11 * 15 + 11) = 4.0
    m(3 * 15 + 4) = 2.0
    val peaks = Watershed.peakLocalMax(m, 15, 15, minDistance = 3)
    assert(peaks.toSet == Set(3 * 15 + 3, 11 * 15 + 11))
  }

  test("watershed splits two touching cells at the valley") {
    // two 'cells': bright distance peaks at c=3 and c=11, valley at c=7
    val m = mask(7, 15)((_, _) => true)
    val elev = new Array[Double](7 * 15)
    for (r <- 0 until 7; c <- 0 until 15)
      elev(r * 15 + c) = -math.min(math.abs(c - 3), math.abs(c - 11)) // -distance
    val markers = new Array[Int](7 * 15)
    markers(3 * 15 + 3) = 1
    markers(3 * 15 + 11) = 2
    val ws = Watershed.watershed(elev, 7, 15, markers, m)
    assert(ws(3 * 15 + 0) == 1)
    assert(ws(3 * 15 + 14) == 2)
    assert(ws.forall(_ > 0)) // full mask covered
  }

  test("watershed-DAPI pipeline splits two blobs") {
    // two disks joined by a thin bridge
    val m = mask(15, 25) { (r, c) =>
      val d1 = (r - 7) * (r - 7) + (c - 6) * (c - 6)
      val d2 = (r - 7) * (r - 7) + (c - 18) * (c - 18)
      d1 <= 25 || d2 <= 25 || (r == 7 && c > 6 && c < 18)
    }
    val dist = Watershed.distanceTransform(m, 15, 25)
    val peaks = Watershed.peakLocalMax(dist, 15, 25, minDistance = 5)
    assert(peaks.length == 2)
    val markers = Watershed.markersFromPeaks(peaks, 15, 25)
    val neg = dist.map(-_)
    val ws = Watershed.watershed(neg, 15, 25, markers, m)
    val labels = ws.zipWithIndex.filter { case (l, i) => m(i) && l > 0 }.map(_._1)
    assert(labels.toSet == Set(1, 2))
    assert(ws(7 * 25 + 6) != ws(7 * 25 + 18)) // the two centers differ
  }

  // ---- GLCM -------------------------------------------------------------

  test("GLCM: constant image has energy 1, contrast 0") {
    val q = new Array[Int](64)
    val p = Glcm.matrix(q, 8, 8, 15, 3, math.Pi / 4)
    val props = Glcm.properties(p, 15)
    assert(math.abs(props(0)) < 1e-12)      // contrast
    assert(math.abs(props(3) - 1.0) < 1e-12) // energy
    assert(math.abs(props(5) - 1.0) < 1e-12) // ASM
  }

  test("GLCM symmetric + normalized, higher contrast for a ramp") {
    // column ramp: the distance-3 diagonal offset (2,2) sees |Δq| = 2
    val ramp = Array.tabulate(64)(i => (i % 8) * 2)
    val flatish = Array.tabulate(64)(_ => 7)
    val pc = Glcm.meanStdOverAngles(ramp, 8, 8, 15, Glcm.anglePlan(3))
    val pf = Glcm.meanStdOverAngles(flatish, 8, 8, 15, Glcm.anglePlan(3))
    assert(pc(0)._1 > pf(0)._1) // contrast mean
    val m = Glcm.matrix(ramp, 8, 8, 15, 3, math.Pi / 4)
    assert(math.abs(m.sum - 1.0) < 1e-9)
    // symmetry
    for (i <- 0 until 15; j <- 0 until 15)
      assert(math.abs(m(i * 15 + j) - m(j * 15 + i)) < 1e-12)
  }

  // ---- region props -----------------------------------------------------

  test("regionprops of a 5x5 square: closed-form values") {
    val sq = mask(9, 9)((r, c) => r >= 2 && r <= 6 && c >= 2 && c <= 6)
    val p = RegionProps.compute(sq, 9, 9)
    val n = RegionProps.Names.zipWithIndex.toMap
    assert(p(n("area")) == 25.0)
    assert(p(n("convex_area")) == 25.0)
    assert(p(n("filled_area")) == 25.0)
    assert(p(n("extent")) == 1.0)
    assert(p(n("solidity")) == 1.0)
    assert(p(n("euler_number")) == 1.0)
    assert(p(n("eccentricity")) == 0.0) // square is isotropic
    assert(math.abs(p(n("equivalent_diameter")) - math.sqrt(100 / math.Pi)) < 1e-12)
    assert(p(n("perimeter")) == 16.0) // skimage: 4x4 boundary steps of a 5x5 square
    assert(p(n("moments-0-0")) == 25.0)
    assert(p(n("moments_central-0-0")) == 25.0)
    assert(p(n("moments_central-1-0")) == 0.0)
    // mu20 of 5 cols at offsets -2..2, 5 rows each: 5*sum(d^2)=5*10=50
    assert(p(n("moments_central-2-0")) == 50.0)
    assert(p(n("inertia_tensor-0-0")) == 2.0) // mu02/mu00 (= mu20 here)
    // feret: max distance over the marching-squares contour of the
    // convex image (skimage) — e.g. (-0.5, 2+0)..(4.5-offset): the
    // extreme pair is (r=-0.5,c=cmin)..(r=4.5,c=cmax) = sqrt(5^2+4^2);
    // the corner-to-corner 5*sqrt(2) of the pixel footprint is NOT a
    // contour point pair (marching squares cuts corners)
    assert(math.abs(p(n("feret_diameter_max")) - math.sqrt(41.0)) < 1e-9)
    // major/minor axes of a square: 4*sqrt(eig) with eig = 2
    assert(math.abs(p(n("major_axis_length")) - 4 * math.sqrt(2)) < 1e-9)
    assert(math.abs(p(n("minor_axis_length")) - 4 * math.sqrt(2)) < 1e-9)
  }

  test("regionprops: donut has euler 0, hole raises filled_area") {
    val donut = mask(9, 9)((r, c) =>
      r >= 1 && r <= 7 && c >= 1 && c <= 7 && !(r >= 3 && r <= 5 && c >= 3 && c <= 5))
    val p = RegionProps.compute(donut, 9, 9)
    val n = RegionProps.Names.zipWithIndex.toMap
    assert(p(n("euler_number")) == 0.0)
    assert(p(n("area")) == 49.0 - 9)
    assert(p(n("filled_area")) == 49.0)
    assert(p(n("solidity")) < 1.0)
  }

  test("regionprops: elongated region has high eccentricity, hu invariance") {
    val bar = mask(9, 21)((r, c) => r >= 3 && r <= 5 && c >= 2 && c <= 18)
    val p = RegionProps.compute(bar, 9, 21)
    val n = RegionProps.Names.zipWithIndex.toMap
    assert(p(n("eccentricity")) > 0.9)
    assert(p(n("major_axis_length")) > p(n("minor_axis_length")) * 3)
    // Hu moments are translation invariant
    val bar2 = mask(11, 23)((r, c) => r >= 4 && r <= 6 && c >= 3 && c <= 19)
    val p2 = RegionProps.compute(bar2, 11, 23)
    for (k <- 0 to 6)
      assert(math.abs(p(n(s"moments_hu-$k")) - p2(n(s"moments_hu-$k"))) < 1e-10)
    // empty mask -> all zeros
    assert(RegionProps.compute(new Array[Boolean](25), 5, 5).forall(_ == 0.0))
  }

  test("RegionProps.Names matches the 59-prop reference inventory") {
    assert(RegionProps.Names.length == 59)
    assert(RegionProps.Names.take(3) == Seq("area", "convex_area", "eccentricity"))
    assert(RegionProps.Names.last == "moments_hu-6")
  }
}
