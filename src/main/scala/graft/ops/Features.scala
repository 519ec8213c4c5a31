package graft.ops

import graft.core.ImageEvent
import graft.kernels._
import graft.plans.{WideCells, WideRowsPlan, WideRowsStrategy}
import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge}
import org.apache.spark.sql.catalyst.plans.logical.CatalystSerde
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types._

/** Feature extraction: event → one wide row of float features with the
  * reference's column naming, schema declared eagerly before execution
  * (features/__init__.py:34-46,104-161).
  *
  * Families (all per reference):
  *  - bbox  (C15): the 4 bbox coords → meta columns
  *  - shape (C11): 59 regionprops × (combined + each channel)
  *  - intensity (C12): 11 stats × 8 views × channel
  *  - raw   (C13): 11 stats on unmasked pixels (same column names as
  *    intensity's first view — when both families are requested,
  *    intensity wins, replicating features/__init__.py:86-97 where the
  *    raw block does not advance the column cursor)
  *  - texture (C14): 6 GLCM props × {mean,std} × 2 distances + 4 sobel
  *    stats, × {channel mask, combined mask}
  *
  * Tombstones (null pixels) emit only meta + regions — the
  * `if "pixels" in p` guard (features/__init__.py:76-99): every input
  * row appears in the output.
  *
  * A channel whose mask equals the combined mask takes its shape,
  * texture and (when the backgrounds agree) intensity rows from the
  * combined ones instead of computing them again; see
  * [[computeFeatures]] for the rule.
  *
  * Every wide table is built by [[wideFrame]]: one plan node per
  * branch (or one for all fused branches), no shuffle; the row is
  * computed in a single pass per event and written straight into a
  * static schema, so downstream relational ops (column pruning!) see
  * real columns, not a blob.
  */
object Features {

  val IntensityProps: Seq[String] = Seq("mean", "median", "max", "min", "std",
    "mad", "lower_quartile", "upper_quartile", "sum", "skewness", "kurtosis")
  val IntensityViews: Seq[String] = Seq("", "bgcorr_", "edge_", "bgcorr_edge_",
    "combined_", "combined_bgcorr_", "combined_edge_", "combined_bgcorr_edge_")
  val GlcmDistances: Seq[Int] = Seq(3, 5)
  val TextureBins = 15

  /** ordered feature column names for a family (pre-rename) */
  def familyNames(family: String, channelNames: Seq[String]): Seq[String] = family match {
    case "bbox" => Seq("bbox_minr", "bbox_minc", "bbox_maxr", "bbox_maxc")
    case "regions" => channelNames.map(c => s"regions_$c")
    case "shape" =>
      ("combined" +: channelNames).flatMap(n => RegionProps.Names.map(p => s"${p}_$n"))
    case "raw" =>
      channelNames.flatMap(c => IntensityProps.map(p => s"${p}_$c"))
    case "intensity" =>
      channelNames.flatMap(c =>
        IntensityViews.flatMap(v => IntensityProps.map(p => s"$v${p}_$c")))
    case "texture" =>
      // single source of truth with the computation side: a drifted
      // hand-maintained copy here would zip-truncate silently
      channelNames.flatMap(c => textureNames(c, "") ++ textureNames(c, "combined_"))
    case other => throw new IllegalArgumentException(s"unknown feature family: $other")
  }

  /** the reference's rename (features/__init__.py:34-46): loader keys →
    * meta_, bbox/regions → meta_[prefix_], features → feat_[prefix_] */
  def renamed(name: String, prefix: String, isLoaderMeta: Boolean): String =
    if (isLoaderMeta) s"meta_$name"
    else if (name.startsWith("bbox") || name.startsWith("regions"))
      if (prefix == null) s"meta_$name" else s"meta_${prefix}_$name"
    else if (prefix == null) s"feat_$name"
    else s"feat_${prefix}_$name"

  def schema(channelNames: Seq[String], types: Seq[String], prefix: String): StructType = {
    val metaFields = Seq(
      StructField(renamed("path", prefix, isLoaderMeta = true), StringType),
      StructField(renamed("idx", prefix, isLoaderMeta = true), LongType),
      StructField(renamed("group", prefix, isLoaderMeta = true), StringType),
      StructField(renamed("id", prefix, isLoaderMeta = true), IntegerType))
    val featNames = featureNames(channelNames, types)
    StructType(metaFields ++ featNames.map(n =>
      StructField(renamed(n, prefix, isLoaderMeta = false), DoubleType)))
  }

  /** canonical family computation order — raw BEFORE intensity so the
    * shared `{prop}_{ch}` names are written last by intensity (the
    * reference's dict-update semantics, features/__init__.py:86-97),
    * regardless of the order the caller listed the families in */
  val CanonicalOrder: Seq[String] =
    Seq("regions", "bbox", "shape", "raw", "intensity", "texture")

  private def ordered(types: Seq[String]): Seq[String] =
    CanonicalOrder.filter(types.contains) ++
      types.filterNot(CanonicalOrder.contains)

  /** deduplicated ordered (pre-rename) feature names — duplicates keep
    * the FIRST slot but are written by the LAST family computing them */
  def featureNames(channelNames: Seq[String], types: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    ordered(types).foreach(f => familyNames(f, channelNames).foreach(seen.add))
    seen.toSeq
  }

  /** Precomputed per-stage write plan. The per-record hot path used to
    * interpolate every feature NAME and resolve it through a HashMap
    * per record — hundreds of string allocations per event, all fully
    * determined by (channelNames, types). The layout resolves each
    * emitted value to its output slot ONCE per stage; records then
    * write doubles by position. `emitIdx` relies on the invariant that
    * each family computes its values in exactly [[familyNames]] order
    * (true by construction — texture even shares the name source); a
    * name duplicated across families maps every emission to the same
    * FIRST slot, so the canonical-order last writer wins as before. */
  final case class CellLayout(typesOrdered: Array[String],
      emitIdx: Array[Int], regionsIdx: Array[Int], nSlots: Int)

  def layout(channelNames: Seq[String], types: Seq[String]): CellLayout = {
    val names = featureNames(channelNames, types)
    val nameIdx = names.zipWithIndex.toMap
    val ord = ordered(types)
    CellLayout(
      ord.toArray,
      ord.filterNot(_ == "regions")
        .flatMap(f => familyNames(f, channelNames)).map(nameIdx).toArray,
      if (types.contains("regions"))
        channelNames.map(c => nameIdx(s"regions_$c")).toArray
      else Array.empty[Int],
      names.length)
  }

  /** One record's feature cells: slot `k` of the layout goes to field
    * `at + k` of `out`, each as a double. A tombstone (no pixels) gets
    * its regions only, so every other slot stays null; a missing region
    * count is null too, never NaN. Shared by the per-branch extract and
    * the fused single-pass pipeline. */
  def featureCells(e: ImageEvent, channelNames: Seq[String],
      lay: CellLayout, out: WideCells, at: Int): Unit = {
    // regions always available (survives tombstoning)
    var c = 0
    while (c < lay.regionsIdx.length) {
      if (e.regions != null && c < e.regions.length)
        out.setDouble(at + lay.regionsIdx(c), e.regions(c).toDouble)
      else out.setNull(at + lay.regionsIdx(c))
      c += 1
    }
    if (e.hasPixels)
      // canonical order so raw never clobbers intensity's shared names
      computeFeatures(e, channelNames, lay.typesOrdered, out, at, lay.emitIdx)
  }

  /** the loader meta cells every wide row starts with, fields 0..3 in
    * [[schema]] order */
  def metaCells(e: ImageEvent, out: WideCells): Unit = {
    out.setString(0, e.path)
    out.setLong(1, e.idx)
    out.setString(2, e.group)
    out.setInt(3, e.id)
  }

  /** extract features for one branch → DataFrame with the declared
    * schema */
  def extract(ds: Dataset[ImageEvent], channelNames: Seq[String],
      types: Seq[String], prefix: String = null): DataFrame = {
    val lay = layout(channelNames, types)
    val sch = schema(channelNames, types, prefix)
    require(4 + lay.nSlots == sch.length,
      s"wide row layout has ${4 + lay.nSlots} cells, schema has ${sch.length} fields")
    wideFrame(ds, sch) { (e, out) =>
      metaCells(e, out)
      featureCells(e, channelNames, lay, out, 4)
    }
  }

  /** One row of `schema` per event: `fill` writes the row's cells
    * through [[graft.plans.WideCells]] (its scaladoc is the contract),
    * and [[graft.plans.WideRowsPlan]] backs them with unsafe rows — no
    * `Row` per record, no boxed value per cell and no per-field
    * serializer expressions for Catalyst to analyze. */
  def wideFrame(ds: Dataset[ImageEvent], schema: StructType)(
      fill: (ImageEvent, WideCells) => Unit): DataFrame = {
    val spark = ds.sparkSession
    WideRowsStrategy.setup(spark)
    GraftBridge.ofRows(spark, WideRowsPlan(DataTypeUtils.toAttributes(schema), fill,
      CatalystSerde.deserialize(ds.queryExecution.analyzed)(ds.encoder)))
  }

  /** all requested non-regions families for a pixel-bearing event,
    * written straight into `out` (from field `at`) through the
    * layout's slot plan
    * (emission order per family == [[familyNames]] order — the
    * contract [[layout]] documents; later families overwrite shared
    * slots).
    *
    * Reuse rule: once per event and channel, channel c's mask plane is
    * compared by value with the combined mask. When they are equal and
    * non-empty (every `circle` branch: all planes and their union are
    * one disk), the channel's rows are the combined rows, computed once:
    * its shape row is the combined shape row, its texture row the
    * combined texture row, and its intensity views 0..3 reuse the
    * combined mask's edge band. Intensity views 4..7 repeat views 0..3
    * only if also the channel background and the combined background
    * are the same bits: the two are computed differently (a mask
    * covering the whole frame has background 0.0 but combined
    * background NaN, Masking.applyRecord), and a twin view subtracts
    * its own background. An empty mask keeps the 0/NaN defaults, which
    * differ from the combined rows of an empty combined mask. Every
    * value is the one the per-channel computation gives, bit for bit. */
  private def computeFeatures(e: ImageEvent, channelNames: Seq[String],
      types: Array[String], out: WideCells, at: Int, emitIdx: Array[Int]): Unit = {
    val h = e.height; val w = e.width
    var k = 0
    def emit(v: Double): Unit = { out.setDouble(at + emitIdx(k), v); k += 1 }
    def emitAll(row: Array[Double]): Unit = {
      var i = 0
      while (i < row.length) { emit(row(i)); i += 1 }
    }
    // each mask is built once per event, on first use by any family
    lazy val combined = e.combinedMaskBool
    val planeMasks = new Array[Array[Boolean]](channelNames.length)
    def maskOf(c: Int): Array[Boolean] = {
      if (planeMasks(c) == null) planeMasks(c) = e.maskPlane(c)
      planeMasks(c)
    }
    // per channel: a non-empty mask equal to the combined mask, whose
    // rows are the combined rows (the reuse rule above)
    lazy val isCombined: Array[Boolean] = {
      val nonEmpty = Morphology.any(combined)
      Array.tabulate(channelNames.length)(c =>
        nonEmpty && java.util.Arrays.equals(maskOf(c), combined))
    }
    types.foreach {
      case "bbox" =>
        emit(e.bboxMinr.toDouble)
        emit(e.bboxMinc.toDouble)
        emit(e.bboxMaxr.toDouble)
        emit(e.bboxMaxc.toDouble)

      case "shape" =>
        // combined first, then channels (features/shape.py:143-150)
        val combinedRow = shapeRow(combined, h, w)
        emitAll(combinedRow)
        var c = 0
        while (c < channelNames.length) {
          val mp = maskOf(c)
          emitAll(
            if (isCombined(c)) combinedRow
            else if (Morphology.any(mp)) shapeRow(mp, h, w)
            else RegionProps.Names.indices.map(i =>
              if (i <= 10) 0.0 else Double.NaN).toArray)
          c += 1
        }

      case "raw" =>
        var c = 0
        while (c < channelNames.length) {
          emitAll(Stats.intensityRow(e.plane(c)))
          c += 1
        }

      case "intensity" =>
        val combinedEdge = Morphology.edgeBand(combined, h, w, 6)
        var c = 0
        while (c < channelNames.length) {
          val rows = intensityViews(e, c, maskOf(c), combined, combinedEdge, isCombined(c))
          var v = 0
          while (v < 8) { emitAll(rows(v)); v += 1 }
          c += 1
        }

      case "texture" =>
        // each channel plane copies once, not twice
        var c = 0
        while (c < channelNames.length) {
          val mp = maskOf(c)
          val pl = e.plane(c)
          val combinedRow = textureRow(pl, combined, h, w)
          emitAll(
            if (isCombined(c)) combinedRow
            else if (Morphology.any(mp)) textureRow(pl, mp, h, w)
            else Array.fill(texRowLen)(Double.NaN))
          emitAll(combinedRow)
          c += 1
        }

      case "regions" => // handled by the caller's regionsIdx slots
      case other => throw new IllegalArgumentException(s"unknown family $other")
    }
  }

  /** mean-over-regions of the 59 regionprops (features/shape.py:
    * 115-123). Every prop is bbox-local/translation-invariant (exactly
    * how skimage regionprops crops each region), so regions are
    * cropped to their bboxes first — total cost O(image + Σ bbox)
    * instead of O(regions × image). */
  private[graft] def shapeRow(mask: Array[Boolean], h: Int, w: Int): Array[Double] = {
    val labels = Morphology.label(mask, h, w)
    val n = Morphology.labelCount(labels)
    // reference _row on an empty mask: regionprops_table yields empty
    // prop arrays and numpy.mean([]) = NaN for EVERY prop (the
    // combined row has no channel-style 0/NaN default split) — zeros
    // here polluted downstream aggregates as real measurements
    if (n == 0) return Array.fill(RegionProps.NumProps)(Double.NaN)
    // one pass: bbox per label
    val minR = Array.fill(n + 1)(h); val maxR = new Array[Int](n + 1)
    val minC = Array.fill(n + 1)(w); val maxC = new Array[Int](n + 1)
    var i = 0
    while (i < labels.length) {
      val l = labels(i)
      if (l > 0) {
        val r = i / w; val c = i % w
        if (r < minR(l)) minR(l) = r
        if (r > maxR(l)) maxR(l) = r
        if (c < minC(l)) minC(l) = c
        if (c > maxC(l)) maxC(l) = c
      }
      i += 1
    }
    val acc = new Array[Double](RegionProps.NumProps)
    var lbl = 1
    while (lbl <= n) {
      val bh = maxR(lbl) - minR(lbl) + 1
      val bw = maxC(lbl) - minC(lbl) + 1
      val m = new Array[Boolean](bh * bw)
      var r = 0
      while (r < bh) {
        var c = 0
        while (c < bw) {
          m(r * bw + c) = labels((minR(lbl) + r) * w + (minC(lbl) + c)) == lbl
          c += 1
        }
        r += 1
      }
      val row = RegionProps.compute(m, bh, bw)
      i = 0
      while (i < acc.length) { acc(i) += row(i); i += 1 }
      lbl += 1
    }
    i = 0
    while (i < acc.length) { acc(i) /= n; i += 1 }
    acc
  }

  /** the 8 intensity views of features/intensity.py:84-164, over
    * channel c's mask `mp`, the combined mask `cm` and its edge band
    * `cedge`. `mpIsCombined` says `mp` is non-empty and equal to `cm`;
    * views 4..7 are then views 0..3 when the two backgrounds agree bit
    * for bit (see [[computeFeatures]]). */
  private[graft] def intensityViews(e: ImageEvent, c: Int, mp: Array[Boolean],
      cm: Array[Boolean], cedge: Array[Boolean],
      mpIsCombined: Boolean): Array[Array[Double]] = {
    val ps = e.planeSize
    val out = Array.fill(8)(new Array[Double](IntensityProps.length))
    val plane = e.plane(c)
    val bg = if (e.background != null) e.background(c) else 0.0
    val cbg = if (e.combinedBackground != null) e.combinedBackground(c) else 0.0

    def select(m: Array[Boolean]): Array[Float] = {
      var n = 0; var i = 0
      while (i < ps) { if (m(i)) n += 1; i += 1 }
      val v = new Array[Float](n)
      var j = 0; i = 0
      while (i < ps) { if (m(i)) { v(j) = plane(i); j += 1 }; i += 1 }
      v
    }
    // a view's row into out(at), its background-subtracted twin's into
    // out(at + 1)
    def viewAndTwin(px: Array[Float], b: Double, at: Int): Unit = {
      out(at) = Stats.intensityRow(px)
      out(at + 1) = Stats.intensityRow(px.map(x => (x - b).toFloat))
    }

    if (Morphology.any(mp)) {
      viewAndTwin(select(mp), bg, 0)
      val edge = if (mpIsCombined) cedge else Morphology.edgeBand(mp, e.height, e.width, 6)
      if (Morphology.any(edge)) viewAndTwin(select(edge), bg, 2)
      // else views 2..3 stay 0 (reference zeroes 2: before recomputing 4+)
    } // else views 0..3 stay 0
    if (mpIsCombined &&
        java.lang.Double.doubleToRawLongBits(bg) == java.lang.Double.doubleToRawLongBits(cbg))
      System.arraycopy(out, 0, out, 4, 4)
    else {
      viewAndTwin(select(cm), cbg, 4)
      if (Morphology.any(cedge)) viewAndTwin(select(cedge), cbg, 6)
    }
    out
  }

  val texRowLen: Int = Glcm.Props.length * 2 * GlcmDistances.length + 4

  private val GlcmPlans: Seq[Glcm.AnglePlan] = GlcmDistances.map(Glcm.anglePlan)

  private def textureNames(cname: String, prefix: String): Seq[String] =
    Glcm.Props.flatMap(p =>
      GlcmDistances.map(n => s"${prefix}glcm_mean_${p}_${n}_$cname") ++
        GlcmDistances.map(n => s"${prefix}glcm_std_${p}_${n}_$cname")) ++
      Seq(s"${prefix}sobel_mean_$cname", s"${prefix}sobel_std_$cname",
        s"${prefix}sobel_max_$cname", s"${prefix}sobel_min_$cname")

  /** GLCM + sobel stats over a masked view (features/texture.py:52-94):
    * quantize valid pixels to 15 levels (16 with the min-edge level),
    * invalid = -1 dropped pairwise; sobel stats over masked values.
    * Both work inside the bounding box of the mask: a GLCM pair or a
    * sobel window that reaches outside it touches an invalid pixel. */
  private[graft] def textureRow(plane: Array[Float], mask: Array[Boolean],
      h: Int, w: Int): Array[Double] = {
    val out = new Array[Double](texRowLen)
    // bounding box [r0, r1) x [c0, c1) of the mask, and the range over
    // valid pixels
    var r0 = h; var r1 = 0; var c0 = w; var c1 = 0
    var mn = Double.MaxValue; var mx = Double.MinValue
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        val i = r * w + c
        if (mask(i)) {
          if (r < r0) r0 = r
          r1 = r + 1
          if (c < c0) c0 = c
          if (c >= c1) c1 = c + 1
          val v = plane(i); if (v < mn) mn = v; if (v > mx) mx = v
        }
        c += 1
      }
      r += 1
    }
    val bh = math.max(0, r1 - r0); val bw = math.max(0, c1 - c0)
    val levels = TextureBins + 1
    val q = new Array[Int](bh * bw)
    val step = if (mx > mn) (mx - mn) / TextureBins else 1.0
    r = 0
    while (r < bh) {
      var c = 0
      while (c < bw) {
        val i = (r + r0) * w + c + c0
        q(r * bw + c) =
          if (!mask(i)) -1
          // an in-mask NaN (normalization of a constant/empty-extent
          // channel) digitizes into the reference's cropped top bin and
          // is DROPPED (texture.py: digitize right=True → level 16,
          // glcm[:-1,:-1]); ceil(NaN).toInt would quantize it to level 0
          // and concentrate the GLCM at (0,0)
          else if (plane(i).isNaN) -1
          else if (mx == mn) 0
          else {
            // digitize right=True over 16 equal edges: level = #edges < x
            val lv = math.ceil((plane(i) - mn) / step - 1e-9).toInt
            if (lv < 0) 0 else if (lv > TextureBins) TextureBins else lv
          }
        c += 1
      }
      r += 1
    }
    // one matrix+properties pass per (distance, angle) — hoisted out of
    // the per-prop loop (recomputing the co-occurrence matrices per
    // property is |Props|× redundant work, O(H·W) each on real images)
    val perDistAll = GlcmPlans.map(Glcm.meanStdOverAngles(q, bh, bw, levels, _))
    var k = 0
    Glcm.Props.indices.foreach { p =>
      val perDist = perDistAll.map(_(p))
      perDist.foreach { ms => out(k) = ms._1; k += 1 }
      perDist.foreach { ms => out(k) = ms._2; k += 1 }
    }
    // sobel over the masked view, exactly as the reference: sobel runs
    // on the NaN-holed image (NaN propagates through the float window
    // arithmetic just like numpy) and the stats are nan-stats
    // (features/texture.py:82-94, incl. the all-NaN -> NaN branch).
    // Only a pixel whose 8 reflected neighbours are all in the mask can
    // give a non-NaN value (the centre is not read), and only an in-box
    // pixel has them; the rest are NaN and skipped. One pixel of reflect
    // border repeats the edge row or column. The values are
    // [[Filters.sobelAt]] on the plane, taken in index order.
    val s = new Array[Float](bh * bw)
    var sN = 0
    r = r0
    while (r < r1) {
      val up = math.max(r - 1, 0) * w; val mid = r * w
      val dn = math.min(r + 1, h - 1) * w
      var c = c0
      while (c < c1) {
        val lf = math.max(c - 1, 0); val rt = math.min(c + 1, w - 1)
        if (mask(up + lf) && mask(up + c) && mask(up + rt) && mask(mid + lf) &&
            mask(mid + rt) && mask(dn + lf) && mask(dn + c) && mask(dn + rt)) {
          val v = Filters.sobelAt(plane, up, mid, dn, lf, c, rt)
          if (!v.isNaN) { s(sN) = v; sN += 1 }
        }
        c += 1
      }
      r += 1
    }
    if (sN == 0) {
      out(k) = Double.NaN; out(k + 1) = Double.NaN
      out(k + 2) = Double.NaN; out(k + 3) = Double.NaN
    } else {
      var sSum = 0.0; var sMax = Double.MinValue; var sMin = Double.MaxValue
      var i = 0
      while (i < sN) {
        sSum += s(i)
        if (s(i) > sMax) sMax = s(i)
        if (s(i) < sMin) sMin = s(i)
        i += 1
      }
      val sMean = sSum / sN
      var ss = 0.0
      i = 0
      while (i < sN) { val d = s(i) - sMean; ss += d * d; i += 1 }
      out(k) = sMean
      out(k + 1) = math.sqrt(ss / sN)
      out(k + 2) = sMax
      out(k + 3) = sMin
    }
    out
  }
}
