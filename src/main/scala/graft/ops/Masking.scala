package graft.ops

import graft.core.ImageEvent
import graft.kernels._
import org.apache.spark.sql.Dataset

/** Masking stage: per-channel foreground masks + the shared
  * border-scrub → bbox → apply chain (reference masking/__init__.py
  * `mask()` flow :33-72 and C1-C8 kernels). All per-record kernels run
  * inside typed `Dataset.map` — one narrow pass, no shuffle; the mask
  * fan-out X2 is realized by calling [[Masking.apply]] once per branch
  * on the same cached parent dataset.
  */
object Masking {

  /** per-channel mask filters (compute_filters,
    * masking/__init__.py:75-95): each filter narrows `maskFilter`; a
    * failing main channel tombstones the record. */
  sealed trait MaskFilter { def channelIndices: Seq[Int] }
  final case class NormalTest(channelIndices: Seq[Int]) extends MaskFilter
  final case class StdFilter(channelIndices: Seq[Int], threshold: Double) extends MaskFilter
  final case class ValueRange(channelIndices: Seq[Int], threshold: Double) extends MaskFilter

  /** per-record form of compute_filters (used by both the Dataset op
    * and the fused single-pass pipeline). NOTE: when several filters
    * name the same channel, the LAST one wins — the reference
    * overwrites `mask_filter[c]` per filter (masking/__init__.py:86-90)
    * rather than AND-ing; a main-channel failure still tombstones
    * immediately and skips the remaining filters for that record. */
  def filtersRecord(filters: Seq[MaskFilter], mainChannelIndex: Int)(
      e: ImageEvent): ImageEvent = {
    val flags = Array.fill(e.channels)(true)
    var tombstoned = false
    filters.foreach { f =>
      if (!tombstoned) f.channelIndices.foreach { c =>
        val plane = e.plane(c)
        val pass = f match {
          case NormalTest(_) => Stats.normaltestP(plane) < 0.05
          case StdFilter(_, t) => Stats.std(plane) > t
          case ValueRange(_, t) =>
            val (mn, mx) = Stats.minMax(plane); (mx - mn) > t
        }
        flags(c) = pass
        if (c == mainChannelIndex && !pass) tombstoned = true
      }
    }
    if (tombstoned) e.copy(maskFilter = flags, pixels = null)
    else e.copy(maskFilter = flags)
  }

  def computeFilters(ds: Dataset[ImageEvent], filters: Seq[MaskFilter],
      mainChannelIndex: Int): Dataset[ImageEvent] = {
    import graft.core.Codecs._
    ds.map(ImageEvent.whenPixels(filtersRecord(filters, mainChannelIndex)))
  }

  // ---- mask methods (C1-C6) --------------------------------------------

  sealed trait Method
  /** The reference's `mask: null` config: the mask() fan-out never
    * runs — events pass through VERBATIM as the single "no" branch
    * (main.py:197-205, `images_dict = dict(no=images)`), and features
    * compute from whatever masks the SEGMENTATION stage produced
    * (its to_events already emits bbox-cropped per-cell events with
    * mask/regions/backgrounds — segmentation/__init__.py:80-119).
    * No border scrub, no bbox, no apply-mask: those belong to the
    * mask stage the config turned off. */
  case object NoOp extends Method
  case object Circle extends Method
  case object Otsu extends Method
  final case class Li(smooth: Seq[Double]) extends Method
  final case class Spot(spotSize: Int) extends Method
  final case class SobelQuantile(q: Double) extends Method
  final case class WatershedMethod(noisyChannels: Seq[Int] = Seq.empty) extends Method

  /** one channel plane → (bool mask, region count); `c` = channel
    * index (per-channel parameters, e.g. li's smooth list) */
  private[ops] def maskChannel(method: Method, x: Array[Float], h: Int, w: Int,
      c: Int = 0): (Array[Boolean], Int) =
    method match {
      case NoOp =>
        throw new IllegalStateException(
          "NoOp never reaches maskChannel — branch/branchRecord pass through")
      case Circle => (circleMask(h, w), 1)

      case Otsu =>
        // digitize(512) if bright; median(disk5); subtract; gaussian .5;
        // sobel; rescale*max; median(disk5); otsu; holes(area/4);
        // objects(20); label (masking/otsu.py:8-52)
        val (mn, mx) = Stats.minMax(x)
        // numpy.digitize over histogram_bin_edges(x, 512): equal-width
        // edges, right-open bins, index 1..512 — and pixels at the
        // exact max land in bin 513 (digitize returns len(edges) past
        // the last edge), which the reference keeps as-is
        val base: Array[Float] =
          if (mx > 512) {
            val (dmn, dmx) = (mn, mx) // the line-above minMax pass
            val span = (dmx - dmn).toDouble
            x.map { v =>
              if (v >= dmx) 513f
              else {
                var b = ((v - dmn) / span * 512.0).toInt + 1
                if (b < 1) b = 1
                if (b > 512) b = 512
                b.toFloat
              }
            }
          } else x
        val med = Filters.medianDisk(base, h, w, 5)
        val sub = new Array[Float](h * w)
        var i = 0
        while (i < sub.length) { sub(i) = base(i) - med(i); i += 1 }
        val smooth = Filters.gaussian(sub, h, w, 0.5)
        val edges = Filters.sobel(smooth, h, w)
        val (bmn, bmx) = Stats.minMax(base)
        // (p * x.max()).astype('uint16') — float TRUNCATION to integer
        // values before the second rank median and the otsu threshold.
        // The & 0xFFFF matters only when x.max() is NEGATIVE (possible
        // on the non-digitized branch, e.g. background-subtracted
        // planes): numpy's float→uint16 cast truncates toward zero and
        // keeps the low 16 bits, wrapping -5 to 65531 — keeping the
        // negative value would diverge through the rank median and
        // otsu. Identity for the normal 0..513 range.
        val resc = Filters.rescale01(edges)
          .map(v => ((v * bmx).toInt & 0xFFFF).toFloat)
        val med2 = Filters.medianDisk(resc, h, w, 5)
        val t = Thresholds.otsu(med2)
        val bin = med2.map(_ > t)
        finishBinary(bin, h, w, holeArea = h * w / 4.0, minSize = 20)

      case Li(smoothPerChannel) =>
        // gaussian σ[c]; sobel; gaussian 2σ[c]; li; cleanup
        // (masking/li.py:25-53 — smooth is per channel)
        // reference li.py indexes smooth[dim] and raises IndexError
        // when the list is shorter than the channel count — clamping
        // would silently reuse the last sigma for a misconfigured run
        val sigma =
          if (smoothPerChannel.isEmpty) 1.0
          else {
            require(c < smoothPerChannel.length,
              s"li smooth list has ${smoothPerChannel.length} entries " +
                s"but channel $c is being masked")
            smoothPerChannel(c)
          }
        liChannel(x, h, w, sigma)

      case Spot(spotSize) =>
        // white tophat disk(spotsize); > q99; label (masking/spot.py:23-49)
        val th = Filters.whiteTophat(x, h, w, spotSize)
        val q = Stats.selectPercentile(th.clone(), 99)
        val bin = th.map(_ > q)
        val labels = Morphology.label(bin, h, w)
        (bin, Morphology.labelCount(labels))

      case SobelQuantile(q) =>
        // sobel; closing(disk2); > quantile(q); mask_post_process
        // (masking/sobel.py:24-46)
        val edges = Filters.sobel(x, h, w)
        val closed = Filters.closeGray(edges, h, w, 2)
        val t = Stats.selectPercentile(closed.clone(), q * 100)
        val bin = closed.map(_ > t)
        if (!Morphology.any(bin)) (bin, 0)
        else postProcessed(bin, h, w)

      case WatershedMethod(noisyChannels) =>
        // reference masking/watershed.py:26-61: channels listed in
        // noisy_channels get denoise_nl_means(patch_size=2,
        // patch_distance=1) and EVERYTHING downstream (sobel, markers,
        // flood) runs on that same image; other channels run on the
        // raw plane — there is NO gaussian smoothing in the reference
        // (an earlier smooth=sigma knob here gaussian-blurred every
        // channel by default, diverging on essentially every image).
        // Then: sobel; closing(disk2); markers from otsu(closed)±50%;
        // flood the image with compactness 1; keep the max surviving
        // label; mask_post_process.
        val sm =
          if (noisyChannels.contains(c))
            Filters.nlMeansDenoise(x, h, w, patchSize = 2, patchDistance = 1)
          else x
        val edges = Filters.sobel(sm, h, w)
        val closed = Filters.closeGray(edges, h, w, 2)
        val t = Thresholds.otsu(closed)
        val markers = new Array[Int](h * w)
        var i = 0
        while (i < markers.length) {
          if (closed(i) < t - t * 0.5) markers(i) = 1
          else if (closed(i) > t + t * 0.5) markers(i) = 2
          i += 1
        }
        val elev = new Array[Double](h * w)
        i = 0
        while (i < elev.length) { elev(i) = sm(i); i += 1 }
        val ws = Watershed.watershed(elev, h, w, markers, null, compactness = 1.0)
        var top = 0
        i = 0
        while (i < ws.length) { if (ws(i) > top) top = ws(i); i += 1 }
        if (top == 0) (new Array[Boolean](h * w), 0)
        else {
          val keep = top
          postProcessed(ws.map(_ == keep), h, w)
        }
    }

  /** mask_post_process (masking/__init__.py:245-251) as the
    * (bool mask, region count) shape the mask methods return */
  private def postProcessed(bin: Array[Boolean], h: Int, w: Int): (Array[Boolean], Int) = {
    val labels = Morphology.postProcess(bin, h, w)
    val asBool = new Array[Boolean](h * w)
    var n = 0
    var i = 0
    while (i < labels.length) {
      if (labels(i) > 0) asBool(i) = true
      if (labels(i) > n) n = labels(i)
      i += 1
    }
    (asBool, n)
  }

  /** The circle method's mask (masking/circle.py:4-26): the centered
    * disk of radius min(h, w) / 3, the pixels whose distance from
    * (h / 2, w / 2) is at most the radius. It depends only on the
    * shape, so [[masksRecord]] builds it once per event for all of the
    * event's channels. */
  private[ops] def circleMask(h: Int, w: Int): Array[Boolean] = {
    val cy = h / 2; val cx = w / 2
    val radius = math.min(w, h) / 3
    val m = new Array[Boolean](h * w)
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        m(r * w + c) =
          math.sqrt((c - cx).toDouble * (c - cx) + (r - cy).toDouble * (r - cy)) <= radius
        c += 1
      }
      r += 1
    }
    m
  }

  private def liChannel(x: Array[Float], h: Int, w: Int, sigma: Double): (Array[Boolean], Int) = {
    val g1 = Filters.gaussian(x, h, w, sigma)
    val edges = Filters.sobel(g1, h, w)
    val g2 = Filters.gaussian(edges, h, w, sigma * 2)
    val t = Thresholds.li(g2)
    val bin = g2.map(t < _)
    finishBinary(bin, h, w, holeArea = h * w / 4.0, minSize = 20)
  }

  private def finishBinary(bin: Array[Boolean], h: Int, w: Int,
      holeArea: Double, minSize: Int): (Array[Boolean], Int) = {
    val noHoles = Morphology.removeSmallHoles(bin, h, w, holeArea)
    val big = Morphology.removeSmallObjects(noHoles, h, w, minSize)
    val labels = Morphology.label(big, h, w)
    (big, Morphology.labelCount(labels))
  }

  /** the mask-method stage. mask_filter gating is PER METHOD in the
    * reference: only otsu.py:18, li.py:35, and spot.py:33 check
    * `el["mask_filter"][dim]` — circle.py, sobel.py, and watershed.py
    * mask every channel unconditionally, so gating them here would
    * zero out channels the reference masks (regions, shape/intensity
    * features, and border-scrub outcomes would all diverge). */
  private def honorsMaskFilter(method: Method): Boolean = method match {
    case Otsu | _: Li | _: Spot => true
    case _ => false
  }

  def masksRecord(method: Method)(e: ImageEvent): ImageEvent = {
    val ps = e.planeSize
    val mask = new Array[Int](e.channels * ps)
    val regions = new Array[Int](e.channels)
    val gate = honorsMaskFilter(method)
    // the circle mask is every channel's: built once, for the event
    lazy val circle = (circleMask(e.height, e.width), 1)
    var c = 0
    while (c < e.channels) {
      val allowed = !gate || e.maskFilter == null || e.maskFilter(c)
      if (allowed) {
        val (m, cc) =
          if (method == Circle) circle else maskChannel(method, e.plane(c), e.height, e.width, c)
        var i = 0
        while (i < ps) { if (m(i)) mask(c * ps + i) = 1; i += 1 }
        regions(c) = cc
      }
      c += 1
    }
    e.copy(mask = mask, regions = regions)
  }

  /** border-region scrub (masking/__init__.py:132-180): per channel
    * drop components with >25%-side border presence; zero surviving
    * regions in the main channel → tombstone pixels AND mask. */
  def scrubRecord(mainChannelIndex: Int)(e: ImageEvent): ImageEvent = {
    val ps = e.planeSize
    val newMask = new Array[Int](e.channels * ps)
    val regions = new Array[Int](e.channels)
    var c = 0
    while (c < e.channels) {
      val plane = e.maskPlane(c)
      if (Morphology.any(plane)) {
        val (scrubbed, n) = Morphology.scrubBorder(plane, e.height, e.width)
        var i = 0
        while (i < ps) { if (scrubbed(i)) newMask(c * ps + i) = 1; i += 1 }
        regions(c) = n
      }
      c += 1
    }
    if (regions(mainChannelIndex) == 0)
      e.copy(pixels = null, mask = null, regions = regions)
    else e.copy(mask = newMask, regions = regions)
  }

  /** union bounding box over channel masks
    * (masking/__init__.py:224-242) */
  def bboxRecord(e: ImageEvent): ImageEvent = {
    {
      var minR = e.height; var minC = e.width; var maxR = 0; var maxC = 0
      var any = false
      val ps = e.planeSize
      var c = 0
      while (c < e.channels) {
        var i = 0
        while (i < ps) {
          if (e.mask(c * ps + i) > 0) {
            val r = i / e.width; val col = i % e.width
            any = true
            if (r < minR) minR = r
            if (col < minC) minC = col
            if (r + 1 > maxR) maxR = r + 1
            if (col + 1 > maxC) maxC = col + 1
          }
          i += 1
        }
        c += 1
      }
      if (!any) e // no mask anywhere: keep sentinel bbox
      else e.copy(bboxMinr = minR, bboxMinc = minC, bboxMaxr = maxR, bboxMaxc = maxC)
    }
  }

  /** apply the mask: combined (union) mask over `combinedIndices`,
    * per-channel mean background outside each channel mask and outside
    * the combined mask (masking/__init__.py:183-221) */
  def applyRecord(combinedIndices: Seq[Int])(e: ImageEvent): ImageEvent = {
    {
      val ps = e.planeSize
      val idxs: Array[Int] =
        (if (combinedIndices == null) 0 until e.channels
         else combinedIndices).toArray
      val combined = new Array[Int](ps)
      var i = 0
      while (i < ps) {
        // primitive loop with early exit: a boxed Seq.foreach closure
        // here runs once per pixel per record in the fused hot path
        var k = 0
        var any = false
        while (!any && k < idxs.length) {
          if (e.mask(idxs(k) * ps + i) > 0) any = true
          k += 1
        }
        if (any) combined(i) = 1
        i += 1
      }
      val bg = new Array[Double](e.channels)
      val cbg = new Array[Double](e.channels)
      var c = 0
      while (c < e.channels) {
        var sumOut = 0.0; var nOut = 0L
        var sumCOut = 0.0; var nCOut = 0L
        i = 0
        while (i < ps) {
          val v = e.pixels(c * ps + i)
          if (e.mask(c * ps + i) == 0) { sumOut += v; nOut += 1 }
          if (combined(i) == 0) { sumCOut += v; nCOut += 1 }
          i += 1
        }
        // reference (masking/__init__.py:208-214): per-channel
        // background is GUARDED to 0 when the mask covers everything,
        // but combined_background is numpy's unguarded empty-slice
        // mean — NaN when the combined mask has no background
        bg(c) = if (nOut == 0) 0.0 else sumOut / nOut
        cbg(c) = if (nCOut == 0) Double.NaN else sumCOut / nCOut
        c += 1
      }
      e.copy(combinedMask = combined, background = bg, combinedBackground = cbg)
    }
  }

  /** the whole per-branch chain as one per-record function (the fused
    * single-pass path of Pipeline.run) */
  def branchRecord(method: Method, mainChannelIndex: Int,
      combinedIndices: Seq[Int])(e0: ImageEvent): ImageEvent = {
    if (method == NoOp) return e0 // mask: null — pass-through (see NoOp)
    if (!e0.hasPixels) return e0
    val e1 = masksRecord(method)(e0)
    val e2 = scrubRecord(mainChannelIndex)(e1)
    if (!e2.hasPixels) return e2
    applyRecord(combinedIndices)(bboxRecord(e2))
  }

  /** full per-branch chain of the reference `mask()` fan-out
    * (masking/__init__.py:33-72): method → border scrub → bbox → apply */
  def branch(ds: Dataset[ImageEvent], method: Method, mainChannelIndex: Int,
      combinedIndices: Seq[Int] = null): Dataset[ImageEvent] = {
    import graft.core.Codecs._
    if (method == NoOp) ds // mask: null — pass-through (see NoOp)
    else ds.map(ImageEvent.whenPixels(branchRecord(method, mainChannelIndex, combinedIndices)))
  }
}
