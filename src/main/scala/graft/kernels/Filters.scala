package graft.kernels

/** 2-D image filters over a single channel plane stored row-major in
  * `Array[Float]` with dims (h, w), index r*w+c. Boundary handling is
  * reflect (skimage's default 'reflect'/'nearest' family — documented
  * per function). These are the primitives behind the masking kernels
  * C1-C5 (reference masking/otsu.py, li.py, sobel.py, watershed.py,
  * spot.py).
  */
object Filters {

  @inline private def reflect(i: Int, n: Int): Int = {
    // scipy 'reflect' (d c b a | a b c d | d c b a)
    var x = i
    if (n == 1) return 0
    val period = 2 * n
    x = ((x % period) + period) % period
    if (x >= n) period - 1 - x else x
  }

  @inline private def clampIdx(i: Int, n: Int): Int =
    if (i < 0) 0 else if (i >= n) n - 1 else i

  /** separable gaussian blur, radius = int(truncate*sigma + 0.5) with
    * truncate=4 and 'nearest' (edge-replicate) boundary — the exact
    * defaults of skimage.filters.gaussian, which the reference calls
    * everywhere (otsu.py:30, li.py:38-40, watershed.py smoothing);
    * scipy's own gaussian_filter defaults to reflect, but skimage
    * overrides mode='nearest'. */
  def gaussian(img: Array[Float], h: Int, w: Int, sigma: Double): Array[Float] = {
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

    // Each pass sums kernel(k + radius) * v over k = -radius .. radius, in
    // that order, from 0.0, into one accumulator per pixel of a row; a
    // row's accumulators take one tap at a time, so the loop over the
    // row's pixels reads no clamp where the tap stays inside the row.
    val tmp = new Array[Float](h * w)
    val out = new Array[Float](h * w)
    val acc = new Array[Double](w)
    // horizontal
    var r = 0
    while (r < h) {
      val base = r * w
      java.util.Arrays.fill(acc, 0.0)
      var k = -radius
      while (k <= radius) {
        val kv = kernel(k + radius)
        // c + k lies in the row for c in [lo, hi)
        val lo = math.min(w, math.max(0, -k)); val hi = math.max(lo, math.min(w, w - k))
        var c = 0
        while (c < lo) { acc(c) += kv * img(base); c += 1 }
        while (c < hi) { acc(c) += kv * img(base + c + k); c += 1 }
        while (c < w) { acc(c) += kv * img(base + w - 1); c += 1 }
        k += 1
      }
      var c = 0
      while (c < w) { tmp(base + c) = acc(c).toFloat; c += 1 }
      r += 1
    }
    // vertical
    r = 0
    while (r < h) {
      java.util.Arrays.fill(acc, 0.0)
      var k = -radius
      while (k <= radius) {
        val kv = kernel(k + radius)
        val src = clampIdx(r + k, h) * w
        var c = 0
        while (c < w) { acc(c) += kv * tmp(src + c); c += 1 }
        k += 1
      }
      val dst = r * w
      var c = 0
      while (c < w) { out(dst + c) = acc(c).toFloat; c += 1 }
      r += 1
    }
    out
  }

  /** index table for an axis of length n read up to `pad` past either
    * end: entry i is border(i − pad, n). The window kernels read through
    * these instead of calling `reflect`/`mirror` per access. */
  private def indexTable(n: Int, pad: Int, border: (Int, Int) => Int): Array[Int] = {
    val t = new Array[Int](n + 2 * pad)
    var i = 0
    while (i < t.length) { t(i) = border(i - pad, n); i += 1 }
    t
  }

  private def reflectTable(n: Int, pad: Int): Array[Int] = indexTable(n, pad, reflect)

  /** Sobel gradient magnitude with skimage's 1/4-normalized kernels
    * and the final 1/sqrt(ndim) magnitude normalization of
    * skimage.filters.sobel (sqrt(gx² + gy²)/sqrt(2) in 2-D), reflect
    * boundary (ndi.convolve default). The 8 neighbours are read through
    * one reflect table per axis. */
  def sobel(img: Array[Float], h: Int, w: Int): Array[Float] = {
    val out = new Array[Float](h * w)
    if (out.length == 0) return out
    val rows = reflectTable(h, 1)
    val cols = reflectTable(w, 1)
    var r = 0
    while (r < h) {
      val up = rows(r) * w; val mid = rows(r + 1) * w; val dn = rows(r + 2) * w
      var c = 0
      while (c < w) {
        out(r * w + c) = sobelAt(img, up, mid, dn, cols(c), cols(c + 1), cols(c + 2))
        c += 1
      }
      r += 1
    }
    out
  }

  /** [[sobel]] at one pixel, from the offsets of its row and the rows
    * above and below (`up`, `mid`, `dn`) and the columns left of, at and
    * right of it. The centre is not read. The arithmetic is evaluated in
    * the same order as the textbook expression, so every output is
    * exact. */
  @inline private[graft] def sobelAt(img: Array[Float], up: Int, mid: Int, dn: Int,
      lf: Int, ct: Int, rt: Int): Float = {
    val nw: Double = img(up + lf); val n: Double = img(up + ct); val ne: Double = img(up + rt)
    val west: Double = img(mid + lf); val east: Double = img(mid + rt)
    val sw: Double = img(dn + lf); val s: Double = img(dn + ct); val se: Double = img(dn + rt)
    val gy = ((nw + 2 * n + ne) - (sw + 2 * s + se)) / 4.0
    val gx = ((nw + 2 * west + sw) - (ne + 2 * east + se)) / 4.0
    (math.sqrt(gx * gx + gy * gy) / math.sqrt(2.0)).toFloat
  }

  /** disk structuring element (skimage.morphology.disk: all (dr, dc)
    * with dr² + dc² <= r²) as per-row half-widths: entry dr + radius is
    * ⌊√(radius² − dr²)⌋, the largest |dc| on row dr. Radii up to 32 come
    * from a table built once (callers must not mutate it); a larger
    * radius is built per call. */
  def diskHalfWidths(radius: Int): Array[Int] = {
    require(radius >= 0, s"disk radius $radius < 0")
    if (radius < HalfWidths.length) HalfWidths(radius) else halfWidths(radius)
  }

  private def halfWidths(r: Int): Array[Int] = {
    val out = new Array[Int](2 * r + 1)
    var i = 0
    while (i < out.length) {
      val dr = i - r
      var d = 0
      while ((d + 1) * (d + 1) + dr * dr <= r * r) d += 1
      out(i) = d
      i += 1
    }
    out
  }

  private val HalfWidths: Array[Array[Int]] = Array.tabulate(33)(halfWidths)

  /** median filter with a disk footprint, skimage.filters.rank.median
    * semantics (the reference's otsu.py:27,35): out-of-image pixels are
    * NOT part of the window (the cython rank kernels bounds-check and
    * skip, no padding), and the median of an n-pixel window is the
    * first value whose cumulative count exceeds n/2 — the upper-middle
    * for even n. */
  def medianDisk(img: Array[Float], h: Int, w: Int, radius: Int): Array[Float] = {
    val hw = diskHalfWidths(radius)
    val out = new Array[Float](h * w)
    val window = new Array[Float](hw.map(2 * _ + 1).sum)
    var r = 0
    while (r < h) {
      val drLo = math.max(-radius, -r); val drHi = math.min(radius, h - 1 - r)
      var c = 0
      while (c < w) {
        // in-image footprint pixels in row-major (dr, dc) order
        var n = 0
        var dr = drLo
        while (dr <= drHi) {
          val half = hw(dr + radius)
          val lo = math.max(c - half, 0); val hi = math.min(c + half, w - 1)
          System.arraycopy(img, (r + dr) * w + lo, window, n, hi - lo + 1)
          n += hi - lo + 1
          dr += 1
        }
        // rank-(n/2) selection — a full O(k log k) sort of the ~81-
        // element window per pixel is pure waste (medianSquare already
        // selects); quickSelect returns exactly sorted(window)(n/2)
        out(r * w + c) = quickSelect(window, n, n / 2)
        c += 1
      }
      r += 1
    }
    out
  }

  /** median filter with a SQUARE size×size window, scipy.ndimage.
    * median_filter semantics (the reference's illumination correction,
    * jones_2006.py:93-95 with size=50): reflect boundary, even sizes
    * span offsets -(size/2) .. size-size/2-1, and the median is the
    * rank size²/2 element (0-based) of the window — scipy implements
    * median_filter as rank_filter(rank = n // 2). */
  def medianSquare(img: Array[Float], h: Int, w: Int, size: Int): Array[Float] = {
    val lo = -(size / 2)
    val hi = size - size / 2 - 1
    val n = size * size
    val window = new Array[Float](n)
    val out = new Array[Float](h * w)
    if (out.length == 0) return out
    // rows(r + dr − lo) = reflect(r + dr, h); cols likewise
    val rows = reflectTable(h, -lo); val cols = reflectTable(w, -lo)
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        var k = 0
        var dr = lo
        while (dr <= hi) {
          val base = rows(r + dr - lo) * w
          var dc = lo
          while (dc <= hi) {
            window(k) = img(base + cols(c + dc - lo))
            k += 1
            dc += 1
          }
          dr += 1
        }
        // rank selection, not a full sort: same element, O(n) per pixel
        out(r * w + c) = quickSelect(window, n, n / 2)
        c += 1
      }
      r += 1
    }
    out
  }

  /** Hoare quickselect over a(0 until n): value at sorted rank k.
    * Deterministic middle pivot — the inputs are image windows, not
    * adversarial. Mutates `a`. */
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

  @inline private def mirror(i: Int, n: Int): Int = {
    // numpy.pad mode='reflect': edge NOT duplicated (d c b | a b c d | c b a)
    if (n == 1) return 0
    val period = 2 * n - 2
    val x = ((i % period) + period) % period
    if (x >= n) period - x else x
  }

  /** Non-local means denoising with UNIFORM patch weighting — the
    * semantics of skimage.restoration.denoise_nl_means(fast_mode=True),
    * which the reference's watershed-DAPI segmenter calls with
    * patch_size=3, patch_distance=2 (segmentation/watershed_dapi.py:44;
    * h=0.1 and sigma=0 defaults). For every pixel, candidate patches
    * within `patchDistance` are weighted exp(−max(d²−2σ², 0)/h²) where
    * d² is the mean squared difference over the patch; the center
    * naturally gets weight 1. Borders are numpy-pad 'reflect'
    * (edge NOT duplicated — unlike scipy's reflect). Direct evaluation
    * (h·w·(2d+1)²·s² ops) computes exactly what skimage's
    * integral-image fast path computes. */
  def nlMeansDenoise(img: Array[Float], h: Int, w: Int,
      patchSize: Int = 3, patchDistance: Int = 2,
      filterH: Double = 0.1, sigma: Double = 0.0): Array[Float] = {
    val off = patchSize / 2
    val h2 = filterH * filterH
    val twoVar = 2.0 * sigma * sigma
    // skimage forces an EVEN patch_size up to the next odd value (the
    // window below is already that (2*off+1)-square), so the patch
    // mean must divide by the odd size squared — patchSize=2 (the
    // watershed noisy-channel call) means a 3x3 patch over 9 terms,
    // not 4
    val oddSize = 2 * off + 1
    val s2 = (oddSize * oddSize).toDouble
    val out = new Array[Float](h * w)
    val pad = patchDistance + off
    val rows = indexTable(h, pad, mirror); val cols = indexTable(w, pad, mirror)
    @inline def at(r: Int, c: Int): Double = img(rows(r + pad) * w + cols(c + pad))
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        var wsum = 0.0
        var acc = 0.0
        var dr = -patchDistance
        while (dr <= patchDistance) {
          var dc = -patchDistance
          while (dc <= patchDistance) {
            var d2 = 0.0
            var pr = -off
            while (pr <= off) {
              var pc = -off
              while (pc <= off) {
                val diff = at(r + pr, c + pc) - at(r + dr + pr, c + dc + pc)
                d2 += diff * diff
                pc += 1
              }
              pr += 1
            }
            val dist = math.max(d2 / s2 - twoVar, 0.0)
            val wgt = math.exp(-dist / h2)
            wsum += wgt
            acc += wgt * at(r + dr, c + dc)
            dc += 1
          }
          dr += 1
        }
        out(r * w + c) = (acc / wsum).toFloat
        c += 1
      }
      r += 1
    }
    out
  }

  /** grayscale erosion (min) over a disk footprint, reflect boundary */
  def erodeGray(img: Array[Float], h: Int, w: Int, radius: Int): Array[Float] =
    rankExtreme(img, h, w, radius, isMin = true)

  /** grayscale dilation (max) over a disk footprint */
  def dilateGray(img: Array[Float], h: Int, w: Int, radius: Int): Array[Float] =
    rankExtreme(img, h, w, radius, isMin = false)

  /** Grayscale min (isMin) or max over disk(radius), reflect boundary,
    * with a fixed amount of work per pixel: row spans.
    *
    * The plane is reflect-padded by `radius` on every side once. Span k
    * of a padded row at column j is the extreme of columns j−k .. j+k:
    * span 0 is the row itself, span 1 combines columns j−1, j and j+1,
    * and span k ≥ 2 combines span k−1 at j−1 and at j+1, which together
    * cover j−k .. j+k. A disk is the union of its rows, row dr spanning
    * half-width [[diskHalfWidths]](dr), so each output pixel combines
    * 2R+1 spans. Levels are built in place, one at a time, and each is
    * folded into the output before the next overwrites it: R passes over
    * the padded plane plus 2R+1 over the output, against ~πR² reflected
    * reads per pixel for the naive window scan. Max runs as min on the
    * negated plane (negation is exact).
    *
    * NaN and ±0 contract — identical to the naive scan that starts at
    * the identity (Float.MaxValue for min, Float.MinValue for max) and
    * takes v only when v < ext (v > ext): NaN never wins, +Inf never
    * beats Float.MaxValue (−Inf never beats Float.MinValue), and an
    * all-NaN window returns the identity. Padding clamps every pixel to
    * the identity in the same way, so the spans fold clamped values and
    * agree with the scan bit for bit, with one exception: when −0.0 and
    * +0.0 both hold a window's extreme, the scan keeps the one first in
    * row-major footprint order and the spans may keep the other. The two
    * compare equal, so any threshold of the output agrees. */
  private def rankExtreme(img: Array[Float], h: Int, w: Int, radius: Int,
      isMin: Boolean): Array[Float] = {
    val hw = diskHalfWidths(radius)
    val out = new Array[Float](h * w)
    if (out.length == 0) return out
    val sign = if (isMin) 1f else -1f
    val rows = reflectTable(h, radius)
    val cols = reflectTable(w, radius)
    val ph = rows.length; val pw = cols.length
    val span = new Array[Float](ph * pw)
    var i = 0
    while (i < ph) {
      val src = rows(i) * w; val dst = i * pw
      var j = 0
      while (j < pw) {
        val v = sign * img(src + cols(j))
        span(dst + j) = if (v < Float.MaxValue) v else Float.MaxValue
        j += 1
      }
      i += 1
    }
    java.util.Arrays.fill(out, Float.MaxValue)
    var k = 0
    while (k <= radius) {
      if (k > 0) widenSpans(span, ph, pw, k)
      var dr = -radius
      while (dr <= radius) {
        if (hw(dr + radius) == k) {
          var r = 0
          while (r < h) {
            val src = (r + radius + dr) * pw + radius; val dst = r * w
            var c = 0
            while (c < w) {
              // a select, not a conditional store: the same value, and
              // no branch to mispredict
              val v = span(src + c); val o = out(dst + c)
              out(dst + c) = if (v < o) v else o
              c += 1
            }
            r += 1
          }
        }
        dr += 1
      }
      k += 1
    }
    if (!isMin) {
      i = 0
      while (i < out.length) { out(i) = -out(i); i += 1 }
    }
    out
  }

  /** in place: min-span level k − 1 → level k on every padded row, over
    * the columns where level k is defined (k .. pw − 1 − k) */
  private def widenSpans(span: Array[Float], ph: Int, pw: Int, k: Int): Unit = {
    var i = 0
    while (i < ph) {
      val base = i * pw
      var left = span(base + k - 1) // level k − 1 at j − 1
      var j = base + k
      val end = base + pw - k
      while (j < end) {
        val cur = span(j); val right = span(j + 1)
        var m = if (right < left) right else left
        if (k == 1 && cur < m) m = cur
        span(j) = m
        left = cur
        j += 1
      }
      i += 1
    }
  }

  /** grayscale opening = dilate(erode) */
  def openGray(img: Array[Float], h: Int, w: Int, radius: Int): Array[Float] =
    dilateGray(erodeGray(img, h, w, radius), h, w, radius)

  /** grayscale closing = erode(dilate) */
  def closeGray(img: Array[Float], h: Int, w: Int, radius: Int): Array[Float] =
    erodeGray(dilateGray(img, h, w, radius), h, w, radius)

  /** white tophat = img − opening(img) — the spot-enhancement kernel
    * (reference masking/spot.py:23-49 with disk(spotsize)) */
  def whiteTophat(img: Array[Float], h: Int, w: Int, radius: Int): Array[Float] = {
    val opened = openGray(img, h, w, radius)
    val out = new Array[Float](h * w)
    var i = 0
    while (i < img.length) { out(i) = img(i) - opened(i); i += 1 }
    out
  }

  /** linear rescale to [0,1] (skimage rescale_intensity); a constant
    * image divides by zero in skimage's formula and lands on
    * clip(image, 0, 1) — constant 5 becomes all 1.0, NOT zeros */
  def rescale01(img: Array[Float]): Array[Float] = {
    val (mn, mx) = Stats.minMax(img)
    val out = new Array[Float](img.length)
    if (mx == mn) {
      var i = 0
      while (i < img.length) {
        out(i) = math.max(0f, math.min(1f, img(i)))
        i += 1
      }
      return out
    }
    val inv = 1.0 / (mx - mn)
    var i = 0
    while (i < img.length) { out(i) = ((img(i) - mn) * inv).toFloat; i += 1 }
    out
  }
}
