package graft.kernels

import org.scalatest.funsuite.AnyFunSuite

/** Proves RegionProps.convexImage's row-span fill equal to the
  * per-pixel point-in-hull test it replaced, and RegionProps.convexHull
  * on doubled integer coordinates equal to the Double-tuple hull it
  * replaced; both old versions are kept here verbatim as references. */
class ConvexImageEquivalenceSpec extends AnyFunSuite {

  private def oldConvexHull(mask: Array[Boolean], h: Int, w: Int): Array[(Double, Double)] = {
    val pts = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    @inline def fg(r: Int, c: Int): Boolean =
      r >= 0 && r < h && c >= 0 && c < w && mask(r * w + c)
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        if (mask(r * w + c) &&
            !(fg(r - 1, c) && fg(r + 1, c) && fg(r, c - 1) && fg(r, c + 1))) {
          pts += ((r - 0.5, c.toDouble)); pts += ((r + 0.5, c.toDouble))
          pts += ((r.toDouble, c - 0.5)); pts += ((r.toDouble, c + 0.5))
        }
        c += 1
      }
      r += 1
    }
    if (pts.isEmpty) return Array.empty
    val sorted = pts.distinct.sortBy(identity).toArray
    if (sorted.length <= 2) return sorted
    @inline def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)): Double =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val hull = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    sorted.foreach { p =>
      while (hull.length >= 2 && cross(hull(hull.length - 2), hull.last, p) <= 0)
        hull.remove(hull.length - 1)
      hull += p
    }
    val lowerLen = hull.length + 1
    var i = sorted.length - 2
    while (i >= 0) {
      val p = sorted(i)
      while (hull.length >= lowerLen && cross(hull(hull.length - 2), hull.last, p) <= 0)
        hull.remove(hull.length - 1)
      hull += p
      i -= 1
    }
    hull.remove(hull.length - 1)
    hull.toArray
  }

  /** same vertices, same order, same Doubles bit for bit */
  private def assertSameHull(mask: Array[Boolean], h: Int, w: Int, what: String): Unit = {
    def bits(hull: Array[(Double, Double)]) = hull.toSeq.map { case (a, b) =>
      (java.lang.Double.doubleToRawLongBits(a), java.lang.Double.doubleToRawLongBits(b))
    }
    assert(bits(RegionProps.convexHull(mask, h, w)) == bits(oldConvexHull(mask, h, w)), what)
  }

  private def pointInConvex(hull: Array[(Double, Double)], r: Double, c: Double): Boolean = {
    var i = 0
    while (i < hull.length) {
      val a = hull(i); val b = hull((i + 1) % hull.length)
      val cr = (b._1 - a._1) * (c - a._2) - (b._2 - a._2) * (r - a._1)
      if (cr < -1e-9) return false
      i += 1
    }
    true
  }

  private def perPixel(hull: Array[(Double, Double)], h: Int, w: Int): Array[Boolean] =
    Array.tabulate(h * w) { i =>
      val (r, c) = (i / w, i % w)
      if (hull.isEmpty) false
      else if (hull.length <= 2)
        hull.exists(p => p._1 - 0.5 <= r && r <= p._1 + 0.5 && p._2 - 0.5 <= c && c <= p._2 + 0.5)
      else pointInConvex(hull, r.toDouble, c.toDouble)
    }

  private def assertSame(mask: Array[Boolean], h: Int, w: Int, what: String): Unit = {
    val hull = RegionProps.convexHull(mask, h, w)
    assert(RegionProps.convexImage(hull, h, w).toSeq == perPixel(hull, h, w).toSeq, what)
  }

  private def maskOf(h: Int, w: Int)(on: (Int, Int) => Boolean): Array[Boolean] =
    Array.tabulate(h * w)(i => on(i / w, i % w))

  test("seeded random masks") {
    val rng = new scala.util.Random(29)
    for (trial <- 0 until 60) {
      val h = 1 + rng.nextInt(20); val w = 1 + rng.nextInt(20)
      val p = Seq(0.02, 0.1, 0.5, 0.9)(trial % 4)
      assertSame(maskOf(h, w)((_, _) => rng.nextDouble() < p), h, w, s"trial $trial ${h}x$w")
    }
  }

  test("single pixels, diagonal pairs, lines and full boxes") {
    for (h <- 1 to 6; w <- 1 to 6) {
      for (r <- 0 until h; c <- 0 until w)
        assertSame(maskOf(h, w)((rr, cc) => rr == r && cc == c), h, w, s"pixel ($r,$c) in ${h}x$w")
      val n = math.min(h, w)
      assertSame(maskOf(h, w)((r, c) => r == c && r < 2), h, w, s"diagonal pair ${h}x$w")
      assertSame(maskOf(h, w)((r, c) => r + c == n - 1 && r >= n - 2), h, w, s"anti-diagonal pair ${h}x$w")
      assertSame(maskOf(h, w)((r, c) => r == c), h, w, s"diagonal line ${h}x$w")
      assertSame(maskOf(h, w)((r, _) => r == h / 2), h, w, s"row line ${h}x$w")
      assertSame(maskOf(h, w)((_, c) => c == w / 2), h, w, s"column line ${h}x$w")
      assertSame(maskOf(h, w)((_, _) => true), h, w, s"full box ${h}x$w")
      assertSame(maskOf(h, w)((r, c) => r > 0 && c > 0 && r < h - 1 && c < w - 1), h, w,
        s"inner box ${h}x$w")
    }
  }

  test("convexHull equals the old Double-tuple hull") {
    val rng = new scala.util.Random(41)
    for (trial <- 0 until 200) {
      val h = 1 + rng.nextInt(24); val w = 1 + rng.nextInt(24)
      val p = Seq(0.01, 0.05, 0.3, 0.7, 0.97)(trial % 5)
      assertSameHull(maskOf(h, w)((_, _) => rng.nextDouble() < p), h, w, s"trial $trial ${h}x$w")
    }
    for (h <- 1 to 6; w <- 1 to 6) {
      assertSameHull(new Array[Boolean](h * w), h, w, s"empty ${h}x$w")
      for (r <- 0 until h; c <- 0 until w)
        assertSameHull(maskOf(h, w)((rr, cc) => rr == r && cc == c), h, w, s"pixel ($r,$c) in ${h}x$w")
      assertSameHull(maskOf(h, w)((r, c) => r == c), h, w, s"diagonal ${h}x$w")
      assertSameHull(maskOf(h, w)((r, c) => r + c == math.min(h, w) - 1), h, w, s"anti-diagonal ${h}x$w")
      assertSameHull(maskOf(h, w)((r, _) => r == h / 2), h, w, s"row line ${h}x$w")
      assertSameHull(maskOf(h, w)((_, c) => c == w / 2), h, w, s"column line ${h}x$w")
      assertSameHull(maskOf(h, w)((_, _) => true), h, w, s"full box ${h}x$w")
      assertSameHull(maskOf(h, w)((r, c) => (r + c) % 2 == 0), h, w, s"checkerboard ${h}x$w")
    }
    for (n <- Seq(9, 21, 40))
      assertSameHull(maskOf(n, n)((r, c) => (r - n / 2) * (r - n / 2) + (c - n / 2) * (c - n / 2) <= n * n / 9),
        n, n, s"disk $n")
    // rows with gaps, a ring, and two separate blobs
    assertSameHull(maskOf(12, 15)((r, c) => r % 3 != 1 && (c < 3 || c > 10)), 12, 15, "gapped rows")
    assertSameHull(maskOf(15, 15)((r, c) => { val d = (r - 7) * (r - 7) + (c - 7) * (c - 7); d >= 16 && d <= 36 }),
      15, 15, "ring")
    assertSameHull(maskOf(10, 20)((r, c) => (r < 3 && c < 3) || (r > 6 && c > 16)), 10, 20, "two blobs")
  }

  test("a hull partly outside the image") {
    val hull = RegionProps.convexHull(maskOf(9, 9)((r, c) => (r - 4) * (r - 4) + (c - 4) * (c - 4) <= 16), 9, 9)
    val shifted = hull.map { case (r, c) => (r - 3.0, c + 2.5) }
    for ((h, w) <- Seq((9, 9), (4, 12), (12, 4)))
      assert(RegionProps.convexImage(shifted, h, w).toSeq == perPixel(shifted, h, w).toSeq)
  }
}
