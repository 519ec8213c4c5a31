package graft.kernels

/** Histogram thresholds: Otsu (maximize between-class variance) and Li
  * (iterative minimum cross entropy) — the decision step of masking
  * kernels C1 (masking/otsu.py:8-52) and C2 (masking/li.py:25-53).
  */
object Thresholds {

  /** Otsu's threshold over a 256-bin histogram of [min,max]
    * (skimage.filters.threshold_otsu default nbins=256). Returns the
    * bin-center threshold; pixels > t are foreground. */
  def otsu(img: Array[Float], nbins: Int = 256): Double = {
    val (mn, mx) = Stats.minMax(img)
    if (mx == mn) return mn
    val hist = new Array[Long](nbins)
    val scale = nbins / (mx - mn)
    var i = 0
    while (i < img.length) {
      var b = ((img(i) - mn) * scale).toInt
      if (b >= nbins) b = nbins - 1
      hist(b) += 1
      i += 1
    }
    val binWidth = (mx - mn) / nbins
    // bin centers
    val centers = Array.tabulate(nbins)(b => mn + (b + 0.5) * binWidth)
    val total = img.length.toDouble
    var sumAll = 0.0
    i = 0
    while (i < nbins) { sumAll += hist(i) * centers(i); i += 1 }
    var wB = 0.0; var sumB = 0.0
    var bestVar = -1.0; var bestT = centers(0)
    i = 0
    while (i < nbins - 1) {
      wB += hist(i)
      sumB += hist(i) * centers(i)
      val wF = total - wB
      if (wB > 0 && wF > 0) {
        val mB = sumB / wB
        val mF = (sumAll - sumB) / wF
        val between = wB * wF * (mB - mF) * (mB - mF)
        if (between > bestVar) { bestVar = between; bestT = centers(i) }
      }
      i += 1
    }
    bestT
  }

  /** Li's iterative minimum-cross-entropy threshold exactly as
    * skimage.filters.threshold_li computes it for float input: values
    * are ALWAYS shifted by the image min (li needs logs of
    * non-negative means), the iteration starts from the mean of the
    * shifted image (not a midpoint — Li's fixed-point iteration is not
    * globally convergent, so the starting point is part of the
    * semantics), the stop tolerance is half the minimum spacing
    * between distinct values, and a zero background mean falls back to
    * mean_fore/2 (the log(0) guard). Result is shifted back. */
  def li(img0: Array[Float], maxIter: Int = 256): Double = {
    // skimage strips NaNs before anything (threshold_li:
    // `image = image[~np.isnan(image)]`) — without this, one NaN pixel
    // poisons the initial mean and the loop exits immediately with NaN
    val img =
      if (img0.exists(v => java.lang.Float.isNaN(v)))
        img0.filter(v => !java.lang.Float.isNaN(v))
      else img0
    if (img.isEmpty) return Double.NaN
    val (mn, mx) = Stats.minMax(img)
    if (mx == mn) return mn
    // tolerance = min(diff(unique(shifted))) / 2, like skimage float path
    // (sorting the plane was most of li's cost: a radix sort, not Arrays.sort)
    val sortedVals = Stats.sortedNaNFree(img)
    var tol = Double.MaxValue
    var i = 1
    while (i < sortedVals.length) {
      val d = (sortedVals(i) - sortedVals(i - 1)).toDouble
      if (d > 0 && d < tol) tol = d
      i += 1
    }
    tol /= 2
    val shift = mn.toDouble
    var tNext = {
      var s = 0.0; var j = 0
      while (j < img.length) { s += img(j) - shift; j += 1 }
      s / img.length
    }
    var tCurr = -2 * tol
    var iter = 0
    while (math.abs(tNext - tCurr) > tol && iter < maxIter) {
      tCurr = tNext
      var sF = 0.0; var nF = 0L; var sB = 0.0; var nB = 0L
      var j = 0
      while (j < img.length) {
        val v = img(j) - shift
        if (v > tCurr) { sF += v; nF += 1 } else { sB += v; nB += 1 }
        j += 1
      }
      if (nF == 0 || nB == 0) { tCurr = tNext /* converged degenerate */ }
      else {
        val meanFore = sF / nF
        val meanBack = sB / nB
        tNext =
          if (meanBack == 0.0) meanFore / 2.0
          else (meanBack - meanFore) / (math.log(meanBack) - math.log(meanFore))
      }
      iter += 1
    }
    tNext + shift
  }
}
