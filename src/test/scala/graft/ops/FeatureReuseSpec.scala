package graft.ops

import graft.core.ImageEvent
import graft.kernels.{Morphology, RegionProps, Stats}
import org.scalatest.funsuite.AnyFunSuite

/** Proves Features.featureCells, which takes a channel's rows from the
  * combined ones when the channel mask equals the combined mask, equal
  * to computing every channel's rows from its own mask. The reference
  * below is the per-channel computation as it was before the reuse,
  * calling the same row functions. Doubles compare by
  * `doubleToLongBits` (-0.0 differs from +0.0, every NaN equals every
  * NaN). */
class FeatureReuseSpec extends AnyFunSuite {

  private val AllTypes = Seq("regions", "bbox", "shape", "raw", "intensity", "texture")

  // ---- the per-channel reference ----------------------------------------

  private def reference(e: ImageEvent, channelNames: Seq[String],
      types: Seq[String]): Array[Any] = {
    val lay = Features.layout(channelNames, types)
    val feats = new Array[Any](lay.nSlots)
    var c = 0
    while (c < lay.regionsIdx.length) {
      feats(lay.regionsIdx(c)) =
        (if (e.regions != null && c < e.regions.length) e.regions(c).toDouble else null): Any
      c += 1
    }
    if (!e.hasPixels) return feats
    val h = e.height; val w = e.width
    var k = 0
    def emitAll(row: Array[Double]): Unit = row.foreach { v => feats(lay.emitIdx(k)) = v; k += 1 }
    val combined = e.combinedMaskBool
    val n = channelNames.length
    lay.typesOrdered.foreach {
      case "bbox" =>
        emitAll(Array(e.bboxMinr, e.bboxMinc, e.bboxMaxr, e.bboxMaxc).map(_.toDouble))
      case "shape" =>
        emitAll(Features.shapeRow(combined, h, w))
        for (c <- 0 until n) {
          val mp = e.maskPlane(c)
          emitAll(
            if (Morphology.any(mp)) Features.shapeRow(mp, h, w)
            else RegionProps.Names.indices.map(i => if (i <= 10) 0.0 else Double.NaN).toArray)
        }
      case "raw" =>
        for (c <- 0 until n) emitAll(Stats.intensityRow(e.plane(c)))
      case "intensity" =>
        val combinedEdge = Morphology.edgeBand(combined, h, w, 6)
        for (c <- 0 until n)
          Features.intensityViews(e, c, e.maskPlane(c), combined, combinedEdge,
            mpIsCombined = false).foreach(emitAll)
      case "texture" =>
        for (c <- 0 until n) {
          val mp = e.maskPlane(c)
          val pl = e.plane(c)
          emitAll(
            if (Morphology.any(mp)) Features.textureRow(pl, mp, h, w)
            else Array.fill(Features.texRowLen)(Double.NaN))
          emitAll(Features.textureRow(pl, combined, h, w))
        }
      case "regions" =>
    }
    feats
  }

  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case other => other
  }

  private def assertSameCells(e: ImageEvent, channelNames: Seq[String], what: String,
      types: Seq[String] = AllTypes): Unit = {
    val lay = Features.layout(channelNames, types)
    val got = graft.plans.ArrayCells.of(lay.nSlots, e,
      Features.featureCells(_, channelNames, lay, _, 0))
    val want = reference(e, channelNames, types)
    val names = Features.featureNames(channelNames, types)
    assert(got.length == want.length, what)
    for (i <- got.indices)
      assert(bits(got(i)) == bits(want(i)), s"$what: ${names(i)} = ${got(i)}, want ${want(i)}")
  }

  // ---- events -----------------------------------------------------------

  /** noisy background with three gaussian blobs per channel */
  private def event(seed: Int, channels: Int, h: Int = 30, w: Int = 34): ImageEvent = {
    val rng = new scala.util.Random(seed)
    val px = Array.fill(channels * h * w)((20 + 4 * rng.nextGaussian()).toFloat)
    for (c <- 0 until channels; _ <- 0 until 3) {
      val cy = 4 + rng.nextInt(h - 8); val cx = 4 + rng.nextInt(w - 8)
      val amp = 80 + 120 * rng.nextDouble(); val s2 = 2 * math.pow(1.5 + 2 * rng.nextDouble(), 2)
      for (r <- 0 until h; col <- 0 until w) {
        val d2 = (r - cy) * (r - cy) + (col - cx) * (col - cx)
        px(c * h * w + r * w + col) += (amp * math.exp(-d2 / s2)).toFloat
      }
    }
    ImageEvent.fromPixels(s"mem://$seed", seed.toLong, "g", Map.empty, channels, h, w, px)
  }

  private def names(channels: Int): Seq[String] = (0 until channels).map(c => s"ch$c")

  private def masked(method: Masking.Method, e: ImageEvent): ImageEvent =
    Masking.branchRecord(method, 0, null)(e)

  /** `e` with every channel's mask set to `label`, then bbox + apply */
  private def uniformMask(e: ImageEvent, label: Int): ImageEvent =
    Masking.applyRecord(null)(Masking.bboxRecord(e.copy(
      mask = Array.fill(e.channels * e.planeSize)(label),
      regions = Array.fill(e.channels)(label))))

  private def sameAsCombined(e: ImageEvent, c: Int): Boolean =
    java.util.Arrays.equals(e.maskPlane(c), e.combinedMaskBool)

  // ---- cases ------------------------------------------------------------

  test("circle: every channel mask is the combined mask, rows reused, values unchanged") {
    for (seed <- 1 to 6) {
      val e = masked(Masking.Circle, event(seed, 3))
      assert((0 until 3).forall(sameAsCombined(e, _)) && Morphology.any(e.combinedMaskBool))
      assert((0 until 3).forall(c => java.lang.Double.doubleToRawLongBits(e.background(c)) ==
        java.lang.Double.doubleToRawLongBits(e.combinedBackground(c))))
      assertSameCells(e, names(3), s"circle seed $seed")
    }
  }

  test("li and spot: channel masks differ from the combined mask") {
    for (seed <- 1 to 4; (what, m) <- Seq("li" -> Masking.Li(Seq(0.75, 0.75, 0.75)),
        "spot" -> Masking.Spot(5))) {
      val e = masked(m, event(100 + seed, 3))
      assert(!e.hasPixels || !(0 until 3).forall(sameAsCombined(e, _)), s"$what seed $seed")
      assertSameCells(e, names(3), s"$what seed $seed")
    }
  }

  test("a mask covering the whole frame: background 0.0 against combined NaN") {
    val e = uniformMask(event(7, 3), 1)
    assert(sameAsCombined(e, 0) && e.background(0) == 0.0 && e.combinedBackground(0).isNaN)
    assertSameCells(e, names(3), "whole frame")
  }

  test("an empty mask equal to an empty combined mask keeps its defaults") {
    val e = uniformMask(event(8, 3), 0)
    assert(sameAsCombined(e, 0) && !Morphology.any(e.combinedMaskBool))
    assertSameCells(e, names(3), "empty mask")
  }

  test("a mask equal to the combined one with a different background") {
    val e = masked(Masking.Circle, event(9, 3))
    val shifted = e.copy(background = e.background.map(_ + 1.0))
    assertSameCells(shifted, names(3), "shifted background")
    assertSameCells(e.copy(background = Array.fill(3)(-0.0), combinedBackground = Array.fill(3)(0.0)),
      names(3), "-0.0 against +0.0")
  }

  test("one channel, each family alone and all together") {
    for (seed <- 20 to 23) {
      val e = masked(Masking.Circle, event(seed, 1))
      assertSameCells(e, names(1), s"one channel seed $seed")
      for (t <- AllTypes) assertSameCells(e, names(1), s"one channel $t", Seq(t))
    }
  }

  test("NaN pixels inside the mask, and a NaN background") {
    val base = event(31, 3)
    val (h, w) = (base.height, base.width)
    val px = base.pixels.clone()
    for (c <- 0 until 3; (r, col) <- Seq((h / 2, w / 2), (h / 2 + 1, w / 2 - 2)))
      px(c * h * w + r * w + col) = Float.NaN
    val inside = masked(Masking.Circle, base.copy(pixels = px))
    assertSameCells(inside, names(3), "NaN inside")
    val px2 = px.clone()
    px2(0) = Float.NaN // outside the disk: channel 0's backgrounds are NaN
    val outside = masked(Masking.Circle, base.copy(pixels = px2))
    assert(outside.background(0).isNaN && outside.combinedBackground(0).isNaN)
    assertSameCells(outside, names(3), "NaN background")
  }
}
