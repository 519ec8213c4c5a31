package graft.kernels

/** Shape descriptors of a binary region — feature kernel C11
  * (features/shape.py:24-84: the 59-float prop inventory). Property
  * definitions follow skimage.measure.regionprops conventions:
  * moments in (row, col) order with `m00` = area, axis lengths from
  * the inertia tensor eigenvalues, perimeter via the weighted
  * border-configuration histogram, Crofton perimeter with 4
  * directions, solidity vs the rasterized diamond-offset convex hull
  * (skimage's offset_coordinates), Feret diameter over the
  * marching-squares contour of the convex image.
  */
object RegionProps {

  /** names in the exact reference order (features/shape.py:24-84) */
  val Names: Seq[String] = Seq(
    "area", "convex_area", "eccentricity", "equivalent_diameter",
    "euler_number", "feret_diameter_max", "filled_area",
    "major_axis_length", "minor_axis_length", "orientation",
    "perimeter", "perimeter_crofton", "solidity", "extent") ++
    Seq("inertia_tensor-0-0", "inertia_tensor-0-1",
      "inertia_tensor-1-0", "inertia_tensor-1-1",
      "inertia_tensor_eigvals-0", "inertia_tensor_eigvals-1") ++
    (for (p <- 0 to 3; q <- 0 to 3) yield s"moments-$p-$q") ++
    (for (p <- 0 to 3; q <- 0 to 3) yield s"moments_central-$p-$q") ++
    (0 to 6).map(i => s"moments_hu-$i")

  val NumProps: Int = Names.length // 59

  /** all props for ONE region mask (true = member), dims (h, w).
    * Returns NumProps doubles in Names order; all-zero mask → zeros. */
  def compute(mask: Array[Boolean], h: Int, w: Int): Array[Double] = {
    var area = 0L
    var minR = Int.MaxValue; var maxR = Int.MinValue
    var minC = Int.MaxValue; var maxC = Int.MinValue
    var i = 0
    while (i < mask.length) {
      if (mask(i)) {
        val r = i / w; val c = i % w
        area += 1
        if (r < minR) minR = r
        if (r > maxR) maxR = r
        if (c < minC) minC = c
        if (c > maxC) maxC = c
      }
      i += 1
    }
    if (area == 0) return new Array[Double](NumProps)

    // raw moments m[p][q] = Σ r^p c^q in BBOX-LOCAL coordinates —
    // skimage regionprops computes moments on the region's cropped
    // image, so raw moments are relative to the bbox origin (central/
    // Hu are translation-invariant either way)
    val m = Array.ofDim[Double](4, 4)
    i = 0
    while (i < mask.length) {
      if (mask(i)) {
        val r = (i / w - minR).toDouble; val c = (i % w - minC).toDouble
        var rp = 1.0
        var p = 0
        while (p <= 3) {
          var cq = 1.0
          var q = 0
          while (q <= 3) {
            m(p)(q) += rp * cq
            cq *= c; q += 1
          }
          rp *= r; p += 1
        }
      }
      i += 1
    }
    val cr = m(1)(0) / m(0)(0) // centroid row (bbox-local frame)
    val cc = m(0)(1) / m(0)(0)

    // central moments (same bbox-local frame as the raw moments)
    val mu = Array.ofDim[Double](4, 4)
    i = 0
    while (i < mask.length) {
      if (mask(i)) {
        val dr = (i / w - minR) - cr; val dc = (i % w - minC) - cc
        var rp = 1.0
        var p = 0
        while (p <= 3) {
          var cq = 1.0
          var q = 0
          while (q <= 3) {
            mu(p)(q) += rp * cq
            cq *= dc; q += 1
          }
          rp *= dr; p += 1
        }
      }
      i += 1
    }

    // normalized + Hu moments
    val nu = Array.ofDim[Double](4, 4)
    val m00 = mu(0)(0)
    var p = 0
    while (p <= 3) {
      var q = 0
      while (q <= 3) {
        if (p + q >= 2) nu(p)(q) = mu(p)(q) / math.pow(m00, 1.0 + (p + q) / 2.0)
        q += 1
      }
      p += 1
    }
    val hu = huMoments(nu)

    // inertia tensor (skimage): [[mu02, -mu11], [-mu11, mu20]] / mu00 —
    // the diagonal holds the second moment of every axis EXCEPT its
    // own (see skimage issue #3229); swapping them exchanges the
    // exported inertia_tensor-0-0 / -1-1 columns
    val t00 = mu(0)(2) / m00
    val t01 = -mu(1)(1) / m00
    val t11 = mu(2)(0) / m00
    // eigenvalues
    val tr = t00 + t11
    val det = t00 * t11 - t01 * t01
    val disc = math.sqrt(math.max(0, tr * tr / 4 - det))
    val eig0 = tr / 2 + disc
    val eig1 = tr / 2 - disc
    val majorAxis = 4.0 * math.sqrt(math.max(0, eig0))
    val minorAxis = 4.0 * math.sqrt(math.max(0, eig1))
    val eccentricity =
      if (eig0 == 0) 0.0 else math.sqrt(1.0 - eig1 / eig0)
    // skimage orientation (regionprops): with the inertia tensor flat
    // as (a, b, b, c) = (mu02, -mu11, -mu11, mu20)/mu00:
    //   a==c → ±pi/4 by the sign of b;  else 0.5·atan2(-2b, c-a)
    // which in raw moments is 0.5·atan2(2·mu11, mu20-mu02) — note the
    // SIGNS: the naive 0.5·atan2(-2·mu11, mu02-mu20) lands a pi/2
    // rotation away on every tilted region
    val orientation = {
      if (t00 - t11 == 0) { if (t01 < 0) -math.Pi / 4 else math.Pi / 4 }
      else 0.5 * math.atan2(-2 * t01, t11 - t00)
    }

    val equivDiameter = math.sqrt(4.0 * area / math.Pi)
    val bboxArea = (maxR - minR + 1).toLong * (maxC - minC + 1)
    val extent = area.toDouble / bboxArea

    val filled = filledArea(mask, h, w)
    val euler = eulerNumber(mask, h, w)
    val perim = perimeter(mask, h, w)
    val perimCrofton = perimeterCrofton(mask, h, w)

    val hull = convexHull(mask, h, w)
    val convex = convexImage(hull, h, w)
    val convexArea = {
      var n = 0L; var i = 0
      while (i < convex.length) { if (convex(i)) n += 1; i += 1 }
      n
    }
    val solidity = if (convexArea == 0) 0.0 else area.toDouble / convexArea
    val feret = feretDiameterMax(convex, h, w)

    val out = new Array[Double](NumProps)
    var k = 0
    out(k) = area.toDouble; k += 1
    out(k) = convexArea.toDouble; k += 1
    out(k) = eccentricity; k += 1
    out(k) = equivDiameter; k += 1
    out(k) = euler.toDouble; k += 1
    out(k) = feret; k += 1
    out(k) = filled.toDouble; k += 1
    out(k) = majorAxis; k += 1
    out(k) = minorAxis; k += 1
    out(k) = orientation; k += 1
    out(k) = perim; k += 1
    out(k) = perimCrofton; k += 1
    out(k) = solidity; k += 1
    out(k) = extent; k += 1
    out(k) = t00; k += 1
    out(k) = t01; k += 1
    out(k) = t01; k += 1
    out(k) = t11; k += 1
    out(k) = eig0; k += 1
    out(k) = eig1; k += 1
    p = 0
    while (p <= 3) { var q = 0; while (q <= 3) { out(k) = m(p)(q); k += 1; q += 1 }; p += 1 }
    p = 0
    while (p <= 3) { var q = 0; while (q <= 3) { out(k) = mu(p)(q); k += 1; q += 1 }; p += 1 }
    var hi = 0
    while (hi < 7) { out(k) = hu(hi); k += 1; hi += 1 }
    out
  }

  private def huMoments(nu: Array[Array[Double]]): Array[Double] = {
    val n20 = nu(2)(0); val n02 = nu(0)(2); val n11 = nu(1)(1)
    val n30 = nu(3)(0); val n03 = nu(0)(3); val n21 = nu(2)(1); val n12 = nu(1)(2)
    val h0 = n20 + n02
    val h1 = math.pow(n20 - n02, 2) + 4 * n11 * n11
    val h2 = math.pow(n30 - 3 * n12, 2) + math.pow(3 * n21 - n03, 2)
    val h3 = math.pow(n30 + n12, 2) + math.pow(n21 + n03, 2)
    val h4 = (n30 - 3 * n12) * (n30 + n12) *
      (math.pow(n30 + n12, 2) - 3 * math.pow(n21 + n03, 2)) +
      (3 * n21 - n03) * (n21 + n03) *
        (3 * math.pow(n30 + n12, 2) - math.pow(n21 + n03, 2))
    val h5 = (n20 - n02) * (math.pow(n30 + n12, 2) - math.pow(n21 + n03, 2)) +
      4 * n11 * (n30 + n12) * (n21 + n03)
    val h6 = (3 * n21 - n03) * (n30 + n12) *
      (math.pow(n30 + n12, 2) - 3 * math.pow(n21 + n03, 2)) -
      (n30 - 3 * n12) * (n21 + n03) *
        (3 * math.pow(n30 + n12, 2) - math.pow(n21 + n03, 2))
    Array(h0, h1, h2, h3, h4, h5, h6)
  }

  /** area with holes filled (ndi.binary_fill_holes: background
    * components not touching the border become foreground) */
  def filledArea(mask: Array[Boolean], h: Int, w: Int): Long = {
    val filled = Morphology.fillHoles(mask, h, w)
    var n = 0L; var i = 0
    while (i < filled.length) { if (filled(i)) n += 1; i += 1 }
    n
  }

  /** Euler number with 8-connectivity (skimage regionprops default):
    * χ = (C1 − C3 − 2·Cd) / 4 over 2×2 quad counts */
  def eulerNumber(mask: Array[Boolean], h: Int, w: Int): Int = {
    var c1 = 0; var c3 = 0; var cd = 0
    var r = -1
    while (r < h) {
      var c = -1
      while (c < w) {
        @inline def at(rr: Int, cc: Int): Boolean =
          rr >= 0 && rr < h && cc >= 0 && cc < w && mask(rr * w + cc)
        val a = at(r, c); val b = at(r, c + 1)
        val d = at(r + 1, c); val e = at(r + 1, c + 1)
        val n = (if (a) 1 else 0) + (if (b) 1 else 0) + (if (d) 1 else 0) + (if (e) 1 else 0)
        if (n == 1) c1 += 1
        else if (n == 3) c3 += 1
        else if (n == 2 && ((a && e && !b && !d) || (b && d && !a && !e))) cd += 1
        c += 1
      }
      r += 1
    }
    (c1 - c3 - 2 * cd) / 4
  }

  /** skimage.measure.perimeter: weighted histogram of border-pixel
    * neighbor configurations */
  def perimeter(mask: Array[Boolean], h: Int, w: Int): Double = {
    // border pixels: mask minus its 4-connected erosion
    val border = new Array[Boolean](h * w)
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        val i = r * w + c
        if (mask(i)) {
          @inline def at(rr: Int, cc: Int): Boolean =
            rr >= 0 && rr < h && cc >= 0 && cc < w && mask(rr * w + cc)
          border(i) = !(at(r - 1, c) && at(r + 1, c) && at(r, c - 1) && at(r, c + 1))
        }
        c += 1
      }
      r += 1
    }
    val sqrt2 = math.sqrt(2.0)
    val weights = new Array[Double](50)
    weights(5) = 1; weights(7) = 1; weights(15) = 1; weights(17) = 1
    weights(25) = 1; weights(27) = 1
    weights(21) = sqrt2; weights(33) = sqrt2
    weights(13) = (1 + sqrt2) / 2; weights(23) = (1 + sqrt2) / 2
    var total = 0.0
    r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        if (border(r * w + c)) {
          @inline def bAt(rr: Int, cc: Int): Boolean =
            rr >= 0 && rr < h && cc >= 0 && cc < w && border(rr * w + cc)
          var code = 1
          if (bAt(r - 1, c)) code += 2
          if (bAt(r + 1, c)) code += 2
          if (bAt(r, c - 1)) code += 2
          if (bAt(r, c + 1)) code += 2
          if (bAt(r - 1, c - 1)) code += 10
          if (bAt(r - 1, c + 1)) code += 10
          if (bAt(r + 1, c - 1)) code += 10
          if (bAt(r + 1, c + 1)) code += 10
          if (code < 50) total += weights(code)
        }
        c += 1
      }
      r += 1
    }
    total
  }

  /** skimage.measure.perimeter_crofton with 4 directions: coefficient
    * lookup over 2×2 configurations of the padded image */
  def perimeterCrofton(mask: Array[Boolean], h: Int, w: Int): Double = {
    val pi = math.Pi
    val s2 = math.sqrt(2.0)
    val coefs = Array(
      0.0, pi / 4 * (1 + 1 / s2), pi / (4 * s2), pi / (2 * s2), 0.0,
      pi / 4 * (1 + 1 / s2), 0.0, pi / (4 * s2), pi / 4, pi / 2,
      pi / (4 * s2), pi / (4 * s2), pi / 4, pi / 2, 0.0, 0.0)
    var total = 0.0
    var r = -1
    while (r < h) {
      var c = -1
      while (c < w) {
        @inline def at(rr: Int, cc: Int): Int =
          if (rr >= 0 && rr < h && cc >= 0 && cc < w && mask(rr * w + cc)) 1 else 0
        // XF convolution kernel [[0,0,0],[0,1,4],[0,2,8]] on padded img
        val code = at(r, c) + 4 * at(r, c + 1) + 2 * at(r + 1, c) + 8 * at(r + 1, c + 1)
        total += coefs(code)
        c += 1
      }
      r += 1
    }
    total
  }

  /** convex hull (monotone chain) over the DIAMOND offset points of
    * every pixel — skimage.morphology.convex_hull_image with
    * offset_coordinates=True adds (±0.5, 0) and (0, ±0.5) per pixel
    * (`_offsets_diamond`), NOT the four corners: corner points admit
    * centers the diamond hull excludes (e.g. two diagonal pixels) and
    * inflate convex_area/deflate solidity. Hull in CCW order, starting
    * at the least (row, col) point.
    *
    * Runs on doubled coordinates, where every offset point is an
    * integer: line 2r holds row r's left and right offsets, line 2r±1
    * the bottom/top offsets of rows r and r±1. On each line only the
    * outermost two points can be hull vertices; every other point lies
    * strictly between them on the same line, and the chain's `<= 0`
    * test pops such a point anyway. So each row's extreme mask columns
    * give at most two candidates per line, already in sorted order, and
    * the integer cross products are exact where the half-integer
    * doubles were: the same vertices in the same order. */
  def convexHull(mask: Array[Boolean], h: Int, w: Int): Array[(Double, Double)] = {
    // each row's least and greatest mask column, -1 for an empty row
    val lo = Array.fill(h)(-1); val hi = Array.fill(h)(-1)
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w && !mask(r * w + c)) c += 1
      if (c < w) {
        lo(r) = c
        var d = w - 1
        while (!mask(r * w + d)) d -= 1
        hi(r) = d
      }
      r += 1
    }
    // candidates on the doubled lines -1 .. 2h-1, at most two per line
    val ys = new Array[Int](4 * h + 2); val xs = new Array[Int](4 * h + 2)
    var n = 0
    def add(y: Int, x: Int): Unit = { ys(n) = y; xs(n) = x; n += 1 }
    var y = -1
    while (y < 2 * h) {
      if ((y & 1) == 0) {
        val rr = y >> 1
        if (lo(rr) >= 0) { add(y, 2 * lo(rr) - 1); add(y, 2 * hi(rr) + 1) }
      } else {
        // the bottom offsets of row (y-1)/2, the top offsets of (y+1)/2
        var a = Int.MaxValue; var b = -1
        val up = (y - 1) >> 1; val down = (y + 1) >> 1
        if (up >= 0 && lo(up) >= 0) { a = lo(up); b = hi(up) }
        if (down < h && lo(down) >= 0) { a = math.min(a, lo(down)); b = math.max(b, hi(down)) }
        if (b >= 0) { add(y, 2 * a); if (b > a) add(y, 2 * b) }
      }
      y += 1
    }
    def point(i: Int): (Double, Double) = (ys(i) * 0.5, xs(i) * 0.5)
    if (n <= 2) return Array.tabulate(n)(point)
    @inline def cross(o: Int, a: Int, b: Int): Long =
      (ys(a) - ys(o)).toLong * (xs(b) - xs(o)) - (xs(a) - xs(o)).toLong * (ys(b) - ys(o))
    val hull = new Array[Int](2 * n)
    var k = 0
    // lower
    var i = 0
    while (i < n) {
      while (k >= 2 && cross(hull(k - 2), hull(k - 1), i) <= 0) k -= 1
      hull(k) = i; k += 1
      i += 1
    }
    // upper
    val lowerLen = k + 1
    i = n - 2
    while (i >= 0) {
      while (k >= lowerLen && cross(hull(k - 2), hull(k - 1), i) <= 0) k -= 1
      hull(k) = i; k += 1
      i -= 1
    }
    Array.tabulate(k - 1)(j => point(hull(j)))
  }

  private def pointInConvex(hull: Array[(Double, Double)], r: Double, c: Double): Boolean = {
    var i = 0
    while (i < hull.length) {
      val a = hull(i); val b = hull((i + 1) % hull.length)
      val cr = (b._1 - a._1) * (c - a._2) - (b._2 - a._2) * (r - a._1)
      if (cr < -1e-9) return false // CCW hull: inside = left of every edge
      i += 1
    }
    true
  }

  /** convex image: pixels whose centers fall inside (or on) the hull.
    *
    * Filled by row spans. Every hull vertex is a multiple of 0.5, so
    * along one row each edge's test value in `pointInConvex` is an
    * exact affine function of the column, a multiple of 0.25. The
    * columns that pass every edge therefore form one run per row, and
    * all pixels outside the hull's bounding box fail. Each row's run is
    * found by walking in from the hull's least and greatest columns
    * with the same test; the columns between its ends are filled
    * untested. */
  def convexImage(hull: Array[(Double, Double)], h: Int, w: Int): Array[Boolean] = {
    val out = new Array[Boolean](h * w)
    if (hull.isEmpty) return out
    if (hull.length <= 2) {
      var r = 0
      while (r < h) {
        var c = 0
        while (c < w) {
          out(r * w + c) = hull.exists(p => p._1 - 0.5 <= r && r <= p._1 + 0.5 &&
            p._2 - 0.5 <= c && c <= p._2 + 0.5)
          c += 1
        }
        r += 1
      }
      return out
    }
    val r0 = math.max(0, math.ceil(hull.map(_._1).min).toInt)
    val r1 = math.min(h - 1, math.floor(hull.map(_._1).max).toInt)
    val c0 = math.max(0, math.ceil(hull.map(_._2).min).toInt)
    val c1 = math.min(w - 1, math.floor(hull.map(_._2).max).toInt)
    var r = r0
    while (r <= r1) {
      var lo = c0
      while (lo <= c1 && !pointInConvex(hull, r.toDouble, lo.toDouble)) lo += 1
      if (lo <= c1) {
        var hi = c1
        while (!pointInConvex(hull, r.toDouble, hi.toDouble)) hi -= 1
        java.util.Arrays.fill(out, r * w + lo, r * w + hi + 1, true)
      }
      r += 1
    }
    out
  }

  /** skimage regionprops feret_diameter_max: max pairwise distance
    * over the marching-squares contour (find_contours at level 0.5 of
    * the zero-padded CONVEX image) — for a binary image those contour
    * vertices are exactly the midpoints between 4-adjacent in/out
    * pixel pairs (outside counts as out). A single pixel yields a
    * diamond of radius 0.5 → feret 1.0, not the corner diagonal √2. */
  def feretDiameterMax(convex: Array[Boolean], h: Int, w: Int): Double = {
    val pts = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        if (convex(r * w + c)) {
          @inline def out(rr: Int, cc: Int): Boolean =
            rr < 0 || rr >= h || cc < 0 || cc >= w || !convex(rr * w + cc)
          if (out(r - 1, c)) pts += ((r - 0.5, c.toDouble))
          if (out(r + 1, c)) pts += ((r + 0.5, c.toDouble))
          if (out(r, c - 1)) pts += ((r.toDouble, c - 0.5))
          if (out(r, c + 1)) pts += ((r.toDouble, c + 0.5))
        }
        c += 1
      }
      r += 1
    }
    var best = 0.0
    var i = 0
    while (i < pts.length) {
      var j = i + 1
      while (j < pts.length) {
        val dr = pts(i)._1 - pts(j)._1
        val dc = pts(i)._2 - pts(j)._2
        val d = dr * dr + dc * dc
        if (d > best) best = d
        j += 1
      }
      i += 1
    }
    math.sqrt(best)
  }
}
