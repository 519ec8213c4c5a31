package graft.kernels

/** Binary morphology and labeling on boolean masks stored row-major
  * with dims (h, w). Covers the mask post-processing chain of the
  * reference (masking/__init__.py:245-251: remove_small_holes,
  * expand_labels, remove_small_objects, label) and the binary
  * closing/erosion used by masking kernels and the edge intensity view
  * (features/intensity.py erosion-XOR).
  */
object Morphology {

  /** binary erosion by disk(radius). Out-of-bounds pixels count as
    * FOREGROUND: skimage.morphology.binary_erosion passes
    * border_value=True to ndi, so erosion never eats the image border —
    * the edge-XOR view (features/intensity.py:80-81) depends on this for
    * masks touching their bbox crop. */
  def erodeBinary(mask: Array[Boolean], h: Int, w: Int, radius: Int): Array[Boolean] = {
    val out = diskHits(mask, h, w, radius, target = false)
    var i = 0
    while (i < out.length) { out(i) = !out(i); i += 1 }
    out
  }

  /** binary dilation by disk(radius); out-of-bounds pixels are ignored */
  def dilateBinary(mask: Array[Boolean], h: Int, w: Int, radius: Int): Array[Boolean] =
    diskHits(mask, h, w, radius, target = true)

  /** whether disk(radius) around each pixel holds an in-image pixel equal
    * to `target` — the row-span scheme of Filters' grayscale rank kernels
    * on booleans, with every span width stored at once. `dist` holds, per
    * pixel, the distance along its row to the nearest in-image `target`
    * pixel (two passes per row), so the span of half-width k around
    * (r, c) holds a `target` pixel iff dist(r, c) <= k. A disk is the
    * union of its rows, row dr of half-width [[Filters.diskHalfWidths]],
    * so each pixel tests at most 2R+1 rows and stops at the first hit.
    * Rows and columns outside the image never hit: that is erosion's
    * foreground border (target = false) and dilation's ignored border
    * (target = true). */
  private def diskHits(mask: Array[Boolean], h: Int, w: Int, radius: Int,
      target: Boolean): Array[Boolean] = {
    val hw = Filters.diskHalfWidths(radius)
    val far = Int.MaxValue
    val dist = new Array[Int](h * w)
    var r = 0
    while (r < h) {
      val base = r * w
      var d = far
      var c = 0
      while (c < w) {
        d = if (mask(base + c) == target) 0 else if (d == far) far else d + 1
        dist(base + c) = d
        c += 1
      }
      d = far
      c = w - 1
      while (c >= 0) {
        d = if (mask(base + c) == target) 0 else if (d == far) far else d + 1
        if (d < dist(base + c)) dist(base + c) = d
        c -= 1
      }
      r += 1
    }
    val out = new Array[Boolean](h * w)
    r = 0
    while (r < h) {
      val drLo = math.max(-radius, -r); val drHi = math.min(radius, h - 1 - r)
      var c = 0
      while (c < w) {
        var hit = false
        var dr = drLo
        while (!hit && dr <= drHi) {
          hit = dist((r + dr) * w + c) <= hw(dr + radius)
          dr += 1
        }
        out(r * w + c) = hit
        c += 1
      }
      r += 1
    }
    out
  }

  /** whether any element of `mask` is set (a while loop: `exists` on an
    * Array[Boolean] goes through a generic, boxed predicate) */
  def any(mask: Array[Boolean]): Boolean = {
    var i = 0
    while (i < mask.length) { if (mask(i)) return true; i += 1 }
    false
  }

  def openBinary(mask: Array[Boolean], h: Int, w: Int, radius: Int): Array[Boolean] =
    dilateBinary(erodeBinary(mask, h, w, radius), h, w, radius)

  /** edge view: mask XOR erosion(mask, disk(radius)) — the boundary
    * band used by the `edge_*` intensity features
    * (features/intensity.py:54-164, disk 6) */
  def edgeBand(mask: Array[Boolean], h: Int, w: Int, radius: Int): Array[Boolean] = {
    val er = erodeBinary(mask, h, w, radius)
    val out = new Array[Boolean](h * w)
    var i = 0
    while (i < mask.length) { out(i) = mask(i) ^ er(i); i += 1 }
    out
  }

  // ---- connected components ---------------------------------------------

  /** connected-component labeling, labels 1..n in scan order of first
    * pixel (skimage.measure.label; connectivity 2 = 8-conn default in
    * 2-D, connectivity 1 = 4-conn), by row runs in two scans. The first
    * scan cuts each row into runs of set pixels and unites every run
    * with the runs of the row above that touch it: columns that overlap
    * (4-conn), or that overlap or meet at a corner (8-conn). A union
    * hangs the larger root under the smaller, so each component's root
    * is its smallest run index, the run holding its first pixel in scan
    * order. The second scan numbers the roots in run order and fills
    * the runs. */
  def label(mask: Array[Boolean], h: Int, w: Int, connectivity: Int = 2): Array[Int] = {
    // a run on the row above at columns [s, e) touches one at [s2, e2)
    // iff s < e2 + reach && s2 < e + reach
    val reach = if (connectivity >= 2) 1 else 0
    // run k covers the flat indices [start(k), end(k))
    var start = new Array[Int](64); var end = new Array[Int](64)
    var parent = new Array[Int](64)
    var n = 0
    // the runs of the row above are [prevLo, prevHi)
    var prevLo = 0; var prevHi = 0
    var r = 0
    while (r < h) {
      val base = r * w
      val rowLo = n
      var p = prevLo
      var c = 0
      while (c < w) {
        if (mask(base + c)) {
          val s = c
          while (c < w && mask(base + c)) c += 1
          if (n == start.length) {
            start = java.util.Arrays.copyOf(start, 2 * n)
            end = java.util.Arrays.copyOf(end, 2 * n)
            parent = java.util.Arrays.copyOf(parent, 2 * n)
          }
          start(n) = base + s; end(n) = base + c; parent(n) = n
          // runs above that end too far left touch no later run either;
          // a run above at flat [S, E) has columns [S + w - base, E + w - base)
          while (p < prevHi && end(p) + w + reach <= base + s) p += 1
          var q = p
          while (q < prevHi && start(q) + w < base + c + reach) {
            val a = find(parent, q); val b = find(parent, n)
            if (a < b) parent(b) = a else if (b < a) parent(a) = b
            q += 1
          }
          n += 1
        } else c += 1
      }
      prevLo = rowLo; prevHi = n
      r += 1
    }
    // a root precedes the rest of its component in run order, so it is
    // numbered before any run that takes its label
    val out = new Array[Int](h * w)
    val runLabel = new Array[Int](n)
    var next = 0
    var k = 0
    while (k < n) {
      val root = find(parent, k)
      runLabel(k) = if (root == k) { next += 1; next } else runLabel(root)
      java.util.Arrays.fill(out, start(k), end(k), runLabel(k))
      k += 1
    }
    out
  }

  /** the root of run x in the union-find forest `parent`, halving the
    * path on the way */
  private def find(parent: Array[Int], x: Int): Int = {
    var i = x
    while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
    i
  }

  def labelCount(labels: Array[Int]): Int = {
    var mx = 0; var i = 0
    while (i < labels.length) { if (labels(i) > mx) mx = labels(i); i += 1 }
    mx
  }

  /** remove connected components with area < minSize
    * (skimage.morphology.remove_small_objects — its DEFAULT is
    * connectivity=1, i.e. 4-conn, which the reference relies on in
    * otsu.py/li.py cleanup and mask_post_process; diagonal-only
    * touching blobs are separate components here) */
  def removeSmallObjects(mask: Array[Boolean], h: Int, w: Int, minSize: Int): Array[Boolean] = {
    val labels = label(mask, h, w, connectivity = 1)
    val n = labelCount(labels)
    val areas = new Array[Int](n + 1)
    var i = 0
    while (i < labels.length) { areas(labels(i)) += 1; i += 1 }
    val out = new Array[Boolean](h * w)
    i = 0
    while (i < labels.length) {
      out(i) = labels(i) > 0 && areas(labels(i)) >= minSize
      i += 1
    }
    out
  }

  /** fill background holes with area < threshold + 1. Implemented
    * exactly as skimage.morphology.remove_small_holes: complement →
    * remove_small_objects(complement, threshold + 1, connectivity=1) →
    * complement, so exactly-threshold holes fill too. No border
    * special-casing — a small background bay touching the image edge
    * IS filled when it forms its own component, and the threshold is a
    * double because the reference passes the float (h*w)/4
    * (otsu.py:39, li.py:41). */
  def removeSmallHoles(mask: Array[Boolean], h: Int, w: Int, areaThreshold: Double): Array[Boolean] = {
    val inv = new Array[Boolean](h * w)
    var i = 0
    while (i < mask.length) { inv(i) = !mask(i); i += 1 }
    val labels = label(inv, h, w, connectivity = 1)
    val n = labelCount(labels)
    val areas = new Array[Int](n + 1)
    i = 0
    while (i < labels.length) {
      if (labels(i) > 0) areas(labels(i)) += 1
      i += 1
    }
    val out = mask.clone()
    i = 0
    while (i < labels.length) {
      val l = labels(i)
      // skimage >= 0.16 (the reference pins >= 0.18) implements
      // remove_small_holes as remove_small_objects(complement,
      // area_threshold + 1), whose keep test is strict <: a hole is
      // filled iff area < threshold + 1 — so exactly-threshold holes
      // fill (and non-integral thresholds round UP, e.g. th=12.25
      // fills up to 13). Strict < threshold was an off-by-one.
      if (l > 0 && areas(l) < areaThreshold + 1) out(i) = true
      i += 1
    }
    out
  }

  /** scipy.ndimage.binary_fill_holes: background components (4-conn)
    * NOT connected to the image border become foreground — used by
    * regionprops' filled image, which unlike remove_small_holes never
    * fills border-touching background. */
  def fillHoles(mask: Array[Boolean], h: Int, w: Int): Array[Boolean] = {
    val inv = new Array[Boolean](h * w)
    var i = 0
    while (i < mask.length) { inv(i) = !mask(i); i += 1 }
    val labels = label(inv, h, w, connectivity = 1)
    val n = labelCount(labels)
    val touchesBorder = new Array[Boolean](n + 1)
    i = 0
    while (i < labels.length) {
      val l = labels(i)
      if (l > 0) {
        val r = i / w; val c = i % w
        if (r == 0 || r == h - 1 || c == 0 || c == w - 1) touchesBorder(l) = true
      }
      i += 1
    }
    val out = mask.clone()
    i = 0
    while (i < labels.length) {
      if (labels(i) > 0 && !touchesBorder(labels(i))) out(i) = true
      i += 1
    }
    out
  }

  /** grow each label into the background by up to `distance` (euclidean;
    * nearest label wins, smaller label on exact ties —
    * skimage.segmentation.expand_labels) */
  def expandLabels(labels: Array[Int], h: Int, w: Int, distance: Double): Array[Int] = {
    val rad = math.floor(distance).toInt
    if (rad < 1) return labels.clone()
    val out = labels.clone()
    val d2max = distance * distance
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        if (labels(r * w + c) == 0) {
          var bestD2 = Double.MaxValue
          var bestL = 0
          var dr = -rad
          while (dr <= rad) {
            var dc = -rad
            while (dc <= rad) {
              val rr = r + dr; val cc = c + dc
              if (rr >= 0 && rr < h && cc >= 0 && cc < w) {
                val l = labels(rr * w + cc)
                if (l > 0) {
                  val d2 = (dr * dr + dc * dc).toDouble
                  // exact-distance ties break on the SMALLEST label —
                  // a documented deterministic choice. skimage's
                  // expand_labels inherits its tie order from scipy's
                  // EDT feature-transform scan, which is an internal
                  // implementation detail with no stated contract;
                  // smallest-label is stable across platforms where
                  // replaying scipy's scan order would not be.
                  if (d2 <= d2max && (d2 < bestD2 || (d2 == bestD2 && l < bestL))) {
                    bestD2 = d2; bestL = l
                  }
                }
              }
              dc += 1
            }
            dr += 1
          }
          if (bestL > 0) out(r * w + c) = bestL
        }
        c += 1
      }
      r += 1
    }
    out
  }

  /** The reference's mask post-processing chain
    * (masking/__init__.py:245-251): remove_small_holes(300) →
    * expand_labels(1) → remove_small_objects(20) → label. Returns the
    * final labeled mask. */
  def postProcess(mask: Array[Boolean], h: Int, w: Int): Array[Int] = {
    val filled = removeSmallHoles(mask, h, w, 300)
    val expandedLabels = expandLabels(label(filled, h, w), h, w, 1)
    val asBool = new Array[Boolean](h * w)
    var i = 0
    while (i < asBool.length) { asBool(i) = expandedLabels(i) > 0; i += 1 }
    val kept = removeSmallObjects(asBool, h, w, 20)
    label(kept, h, w)
  }

  /** border-region scrub (_regions_touching, masking/__init__.py:
    * 132-155): the four borders are CONCATENATED (corners counted
    * twice) and a label is dropped when its total border presence
    * exceeds the single limit int(0.25·min(h,w)); surviving-region
    * count is len(set(unique) − set(dropped)) − 1, i.e. background 0
    * participates only when a background pixel exists. Returns the
    * filtered mask and the surviving-region count. */
  def scrubBorder(mask: Array[Boolean], h: Int, w: Int): (Array[Boolean], Int) = {
    val labels = label(mask, h, w)
    val n = labelCount(labels)
    if (n == 0) return (new Array[Boolean](h * w), 0)
    val limit = (math.min(h, w) * 0.25).toInt
    val borderCount = new Array[Int](n + 1)
    var hasBackground = false
    var i = 0
    while (i < labels.length) {
      val l = labels(i)
      if (l == 0) hasBackground = true
      else {
        val r = i / w; val c = i % w
        // corner pixels sit on two borders of the concatenation
        if (r == 0) borderCount(l) += 1
        if (r == h - 1) borderCount(l) += 1
        if (c == 0) borderCount(l) += 1
        if (c == w - 1) borderCount(l) += 1
      }
      i += 1
    }
    val drop = new Array[Boolean](n + 1)
    var l = 1
    while (l <= n) { drop(l) = borderCount(l) > limit; l += 1 }
    val out = new Array[Boolean](h * w)
    i = 0
    while (i < labels.length) {
      val li = labels(i)
      if (li > 0 && !drop(li)) out(i) = true
      i += 1
    }
    var surviving = if (hasBackground) 0 else -1
    l = 1
    while (l <= n) { if (!drop(l)) surviving += 1; l += 1 }
    (out, math.max(0, surviving))
  }
}
