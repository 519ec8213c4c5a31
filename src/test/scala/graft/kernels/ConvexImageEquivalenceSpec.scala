package graft.kernels

import org.scalatest.funsuite.AnyFunSuite

/** Proves RegionProps.convexImage's row-span fill equal to the
  * per-pixel point-in-hull test it replaced, kept here verbatim as the
  * reference. */
class ConvexImageEquivalenceSpec extends AnyFunSuite {

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

  test("a hull partly outside the image") {
    val hull = RegionProps.convexHull(maskOf(9, 9)((r, c) => (r - 4) * (r - 4) + (c - 4) * (c - 4) <= 16), 9, 9)
    val shifted = hull.map { case (r, c) => (r - 3.0, c + 2.5) }
    for ((h, w) <- Seq((9, 9), (4, 12), (12, 4)))
      assert(RegionProps.convexImage(shifted, h, w).toSeq == perPixel(shifted, h, w).toSeq)
  }
}
