package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The circle method's mask as it was before it was built once per
  * event, kept verbatim as the reference: one `Array.tabulate` over the
  * frame per channel. */
object CircleReference {
  def mask(h: Int, w: Int): Array[Boolean] = {
    val cy = h / 2; val cx = w / 2
    val radius = math.min(w, h) / 3
    Array.tabulate(h * w) { i =>
      val r = i / w; val c = i % w
      math.sqrt((c - cx).toDouble * (c - cx) + (r - cy).toDouble * (r - cy)) <= radius
    }
  }
}

/** `Masking.circleMask` and the circle branch's per-channel masks
  * against the reference, for every shape up to 70 x 70 and for a few
  * large and degenerate ones; the plane's values (constant, NaN, ±Inf)
  * and the mask filter do not enter. */
class CircleMaskEquivalenceSpec extends AnyFunSuite {

  private val shapes: Seq[(Int, Int)] =
    (for (h <- 1 to 70; w <- 1 to 70) yield (h, w)) ++
      Seq((1, 1000), (1000, 1), (257, 513), (640, 480))

  test("circleMask equals the reference for every shape") {
    for ((h, w) <- shapes)
      assert(Masking.circleMask(h, w).toSeq == CircleReference.mask(h, w).toSeq, (h, w))
  }

  test("maskChannel(Circle) ignores the plane's values") {
    val rng = new scala.util.Random(5)
    for ((h, w) <- Seq((48, 48), (31, 57), (3, 2))) {
      val n = h * w
      for (px <- Seq(Array.fill(n)(rng.nextFloat()), Array.fill(n)(Float.NaN),
          Array.tabulate(n)(i => if (i % 2 == 0) Float.PositiveInfinity else -0f),
          Array.fill(n)(4f))) {
        val (m, regions) = Masking.maskChannel(Masking.Circle, px, h, w)
        assert(m.toSeq == CircleReference.mask(h, w).toSeq && regions == 1, (h, w))
      }
    }
  }

  test("masksRecord(Circle) gives every channel the reference mask and one region") {
    val rng = new scala.util.Random(7)
    for ((h, w) <- Seq((48, 48), (31, 57), (3, 2)); channels <- Seq(1, 3)) {
      val n = h * w
      val px = Array.tabulate(channels * n)(i => if (i % 5 == 0) Float.NaN else rng.nextFloat())
      val e = graft.core.ImageEvent.fromPixels(path = "p", idx = 0L, group = "g",
        meta = Map.empty, channels = channels, height = h, width = w, pixels = px)
        .copy(maskFilter = Array.tabulate(channels)(_ % 2 == 0))
      val out = Masking.masksRecord(Masking.Circle)(e)
      val want = CircleReference.mask(h, w).map(b => if (b) 1 else 0).toSeq
      for (c <- 0 until channels)
        assert(out.mask.slice(c * n, (c + 1) * n).toSeq == want, (h, w, c))
      assert(out.regions.toSeq == Seq.fill(channels)(1), (h, w))
    }
  }
}
