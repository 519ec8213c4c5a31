package graft.ops

import graft.core.ImageEvent
import graft.core.Codecs._
import graft.kernels._
import org.apache.spark.sql.Dataset

/** Segmentation: detect cells in a field of view and explode to
  * per-cell events — reference C10 + X1
  * (segmentation/watershed_dapi.py:29-62, segmentation/__init__.py:70-119).
  * Cellpose (C9) is a torch model outside JVM scope; `Segmenter` is the
  * plugin point (the reference ships it as an optional extra too,
  * setup.cfg:55-57).
  */
object Segmentation {

  /** anything the pipeline's segment stage can run (single-plane
    * segmenters and the multi-channel cellpose path) */
  sealed trait SegmentSpec extends Serializable

  trait Segmenter extends SegmentSpec {
    /** labeled mask (1..n) for the parent channel plane */
    def segment(plane: Array[Float], h: Int, w: Int): Array[Int]
    /** non-parent channels receive the labels expanded by this many
      * pixels (watershed_dapi.py:56-60: dapi keeps segmented_cells,
      * the other channels get expand_labels(·, cell_diameter × 0.1)) */
    def expansionPx: Double = 0.0
  }

  /** watershed-DAPI (C10): NL-means denoise (uniform-patch, the
    * fast_mode semantics of skimage.restoration.denoise_nl_means with
    * the reference's patch_size=3, patch_distance=2) → Otsu foreground
    * → EDT →
    * peak_local_max(min_distance = cellDiameter, border-excluded like
    * skimage's default) → markers labeled in scan order →
    * watershed(−EDT) over the WHOLE plane (the reference floods
    * unmasked, watershed_dapi.py:55) */
  final case class WatershedDapi(cellDiameter: Int = 10,
      expansionFactor: Double = 0.1) extends Segmenter {
    override def expansionPx: Double = cellDiameter * expansionFactor
    def segment(plane: Array[Float], h: Int, w: Int): Array[Int] = {
      val den = Filters.nlMeansDenoise(plane, h, w)
      val t = Thresholds.otsu(den)
      val fg = den.map(_ > t)
      val dist = Watershed.distanceTransform(fg, h, w)
      val peaks = Watershed.peakLocalMax(dist, h, w, cellDiameter)
      if (peaks.isEmpty) return new Array[Int](h * w)
      val markers = Watershed.markersFromPeaks(peaks, h, w)
      Watershed.watershed(dist.map(-_), h, w, markers)
    }
  }

  /** run the segmenter on the parent channel: the parent keeps the raw
    * labels; every other channel carries the expanded labels
    * (watershed_dapi.py:56-60) */
  def segment(ds: Dataset[ImageEvent], segmenter: Segmenter,
      parentChannelIndex: Int): Dataset[ImageEvent] =
    ds.map(ImageEvent.whenPixels { e =>
      val ps = e.planeSize
      // plane() zero-pads past the last channel (Arrays.copyOfRange),
      // so an off-by-one index would segment an all-zero plane and
      // silently emit empty masks — fail like cellposePartitions does
      require(parentChannelIndex >= 0 && parentChannelIndex < e.channels,
        s"segment parent channel $parentChannelIndex out of range for " +
          s"a ${e.channels}-channel event (${e.path})")
      val labels = segmenter.segment(e.plane(parentChannelIndex), e.height, e.width)
      val expanded =
        if (segmenter.expansionPx > 0)
          Morphology.expandLabels(labels, e.height, e.width, segmenter.expansionPx)
        else labels
      val mask = new Array[Int](e.channels * ps)
      var c = 0
      while (c < e.channels) {
        val src = if (c == parentChannelIndex) labels else expanded
        System.arraycopy(src, 0, mask, c * ps, ps)
        c += 1
      }
      // labelCount scans the plane: Array.fill's by-name argument
      // would repeat that scan once per channel for the same value
      val nLabels = Morphology.labelCount(labels)
      val regions = Array.fill(e.channels)(nLabels)
      e.copy(mask = mask, regions = regions)
    })

  // ---- cellpose-shaped segmentation (C9) --------------------------------

  /** The model contract of the cellpose path (segmentation/cellpose.py:
    * 39-107): batched eval of (primary, nucleus) plane pairs → one
    * labeled mask per event. The torch model itself is outside JVM
    * scope (the reference ships it as an optional extra too,
    * setup.cfg:55-57); [[StubCellposeFactory]] is the deterministic
    * stand-in wired through the REAL plumbing — executor-singleton
    * model caching (R6), batch-grouped eval, and the >10%-overlap
    * parent/child assignment. A torch-backed implementation plugs in
    * as another [[CellposeModelFactory]]. */
  trait CellposeModel {
    /** items are (primary plane, nucleus plane, h, w) */
    def evalBatch(items: Seq[(Array[Float], Array[Float], Int, Int)],
        cellDiameter: Int, flowThreshold: Double): Seq[Array[Int]]
  }

  /** expensive model init happens once per executor JVM (the
    * reference's `worker.cellpose` attribute, cellpose.py:71-79) */
  trait CellposeModelFactory extends Serializable {
    def id: String
    def create(): CellposeModel
  }

  object CellposeModels {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, CellposeModel]()
    def forWorker(f: CellposeModelFactory): CellposeModel =
      cache.computeIfAbsent(f.id, _ => f.create())
    private[ops] def instanceCount: Int = cache.size()
  }

  /** deterministic classical stand-in for the cyto2 model: the
    * watershed-DAPI kernel over the primary plane, peaks seeded from
    * the nucleus plane's foreground distance — same (primary, nucleus)
    * input contract and labeled-mask output shape as cellpose */
  case object StubCellposeFactory extends CellposeModelFactory {
    val id = "stub-cyto2"
    def create(): CellposeModel = new CellposeModel {
      def evalBatch(items: Seq[(Array[Float], Array[Float], Int, Int)],
          cellDiameter: Int, flowThreshold: Double): Seq[Array[Int]] =
        items.map { case (primary, nucleus, h, w) =>
          val den = Filters.gaussian(primary, h, w, 1.0)
          val t = Thresholds.otsu(den)
          val fg = den.map(_ > t)
          val nden = Filters.gaussian(nucleus, h, w, 1.0)
          val nt = Thresholds.otsu(nden)
          val nfg = nden.map(_ > nt)
          val dist = Watershed.distanceTransform(nfg, h, w)
          val peaks = Watershed.peakLocalMax(dist, h, w, cellDiameter)
          if (peaks.isEmpty) new Array[Int](h * w)
          else {
            val markers = Watershed.markersFromPeaks(peaks, h, w)
            Watershed.watershed(dist.map(-_), h, w, markers, fg)
          }
        }
    }
  }

  final case class CellposeShaped(
      parentChannelIndex: Int,
      dapiChannelIndex: Int,
      channelIndices: Seq[Int] = null,
      cellDiameter: Int = 10,
      flowThreshold: Double = 0.4,
      batchSize: Int = 128,
      model: CellposeModelFactory = StubCellposeFactory) extends SegmentSpec

  /** child→parent assignment (cellpose.py:109-127): within each parent
    * object, child labels covering >10% of the parent's area survive
    * and take the parent's label. Implemented as ONE pass counting
    * (parent, child) co-occurrence + parent areas, then one output
    * pass — O(pixels + label pairs), not O(labels × pixels). */
  private[ops] def assignChildren(parent: Array[Int], child: Array[Int]): Array[Int] = {
    val areas = collection.mutable.HashMap.empty[Int, Int]
    val pairCounts = collection.mutable.HashMap.empty[Long, Int]
    var p = 0
    while (p < parent.length) {
      val i = parent(p)
      if (i > 0) {
        areas.updateWith(i)(v => Some(v.getOrElse(0) + 1))
        val c = child(p)
        if (c > 0) {
          val key = (i.toLong << 32) | (c.toLong & 0xffffffffL)
          pairCounts.updateWith(key)(v => Some(v.getOrElse(0) + 1))
        }
      }
      p += 1
    }
    val keep = pairCounts.collect {
      case (key, n) if n.toDouble / areas((key >>> 32).toInt) > 0.1 => key
    }.toSet
    val out = new Array[Int](parent.length)
    p = 0
    while (p < parent.length) {
      val i = parent(p); val c = child(p)
      if (i > 0 && c > 0 &&
        keep.contains((i.toLong << 32) | (c.toLong & 0xffffffffL))) out(p) = i
      p += 1
    }
    out
  }

  /** the cellpose-path segment stage: per batch, eval the parent
    * channel once and each selected child channel once; child objects
    * are re-labeled onto their parents; unselected channels carry the
    * parent labels (numpy.repeat default, cellpose.py:111). Tombstones
    * pass through in order. */
  def segmentCellpose(ds: Dataset[ImageEvent], cfg: CellposeShaped): Dataset[ImageEvent] =
    ds.mapPartitions(cellposePartitions(cfg))

  /** R5: the cellpose stage tagged for GPU scheduling — the Spark
    * equivalent of the reference's dask GPU worker resources
    * (utils/util.py:72,117-118, segmentation/__init__.py:31-33). A
    * custom [[org.apache.spark.resource.ResourceProfile]] requests
    * `gpuPerTask` GPUs per task, and the cellpose mapPartitions runs
    * on an RDD carrying it (Catalyst plans can't carry resource hints,
    * so this one stage round-trips Dataset→RDD→Dataset on the same
    * encoder). Custom profiles are only schedulable on YARN/K8s/
    * standalone with dynamic allocation (Spark's documented support
    * matrix) — elsewhere (e.g. local mode) tagging would enqueue a job
    * that never schedules, so the stage falls back to the default
    * profile with identical semantics, mirroring the reference's CPU
    * fallback (`mode != "grpc" or not gpu` path). */
  def segmentCellposeGpu(ds: Dataset[ImageEvent], cfg: CellposeShaped,
      gpuPerTask: Double = 1.0): Dataset[ImageEvent] = {
    val sc = ds.sparkSession.sparkContext
    val clusterManaged = sc.master.startsWith("yarn") ||
      sc.master.startsWith("k8s://") || sc.master.startsWith("spark://")
    val dynAlloc = sc.getConf.getBoolean("spark.dynamicAllocation.enabled",
      defaultValue = false)
    val rdd = ds.rdd.mapPartitions(cellposePartitions(cfg))
    val tagged =
      if (clusterManaged && dynAlloc) rdd.withResources(cellposeGpuProfile(gpuPerTask))
      else rdd
    ds.sparkSession.createDataset(tagged)(graft.core.Codecs.imageEventEncoder)
  }

  /** task/executor GPU requests for the cellpose stage (1 executor GPU,
    * `gpuPerTask` per task — fractional amounts express task packing,
    * e.g. 0.25 = 4 concurrent cellpose tasks per device) */
  def cellposeGpuProfile(gpuPerTask: Double): org.apache.spark.resource.ResourceProfile = {
    import org.apache.spark.resource.{ExecutorResourceRequests, ResourceProfileBuilder, TaskResourceRequests}
    new ResourceProfileBuilder()
      .require(new TaskResourceRequests().resource("gpu", gpuPerTask))
      .require(new ExecutorResourceRequests().resource("gpu", 1))
      .build()
  }

  private def cellposePartitions(cfg: CellposeShaped)(
      it: Iterator[ImageEvent]): Iterator[ImageEvent] = {
      val model = CellposeModels.forWorker(cfg.model)
      it.grouped(cfg.batchSize).flatMap { batch =>
        // events are ragged: batch model eval per channel COUNT so a
        // union of e.g. 2- and 3-channel sources never indexes a
        // missing plane; results keyed by batch position
        val livePos = batch.zipWithIndex.filter(_._1.hasPixels)
        if (livePos.isEmpty) batch.iterator
        else {
          val segmentedAt: Map[Int, graft.core.ImageEvent] =
            livePos.groupBy(_._1.channels).iterator.flatMap { case (nCh, group) =>
              require(cfg.parentChannelIndex >= 0 && cfg.parentChannelIndex < nCh &&
                cfg.dapiChannelIndex >= 0 && cfg.dapiChannelIndex < nCh,
                s"cellpose parent/dapi channel (${cfg.parentChannelIndex}/" +
                  s"${cfg.dapiChannelIndex}) out of range for a batch of " +
                  s"$nCh-channel events (e.g. ${group.head._1.path})")
              // one nucleus-plane copy per event, not one per
              // evaluated channel (plane() allocates via copyOfRange)
              val dapi = group.map(_._1.plane(cfg.dapiChannelIndex))
              def planes(ch: Int) = group.zip(dapi).map { case ((e, _), d) =>
                (e.plane(ch), d, e.height, e.width)
              }
              val parents = model.evalBatch(planes(cfg.parentChannelIndex),
                cfg.cellDiameter, cfg.flowThreshold)
              val chIdx = Option(cfg.channelIndices).getOrElse(0 until nCh)
              val children: Map[Int, Seq[Array[Int]]] = chIdx
                .filter(c => c != cfg.parentChannelIndex && c < nCh)
                .map(c => c -> model.evalBatch(planes(c),
                  cfg.cellDiameter, cfg.flowThreshold))
                .toMap
              group.zipWithIndex.map { case ((e, pos), i) =>
                val ps = e.planeSize
                val mask = new Array[Int](e.channels * ps)
                val regions = new Array[Int](e.channels)
                // every channel without children shares the parent
                // labels — count the parent's regions once per event
                val parentRegions = distinctPositive(parents(i))
                var c = 0
                while (c < e.channels) {
                  children.get(c) match {
                    case Some(ch) =>
                      val labels = assignChildren(parents(i), ch(i))
                      System.arraycopy(labels, 0, mask, c * ps, ps)
                      regions(c) = distinctPositive(labels)
                    case None =>
                      System.arraycopy(parents(i), 0, mask, c * ps, ps)
                      regions(c) = parentRegions
                  }
                  c += 1
                }
                pos -> e.copy(mask = mask, regions = regions)
              }
            }.toMap
          // re-emit in batch order, tombstones untouched
          batch.iterator.zipWithIndex.map { case (e, pos) =>
            segmentedAt.getOrElse(pos, e)
          }
        }
      }
    }

  /** count of distinct positive labels — a primitive two-pass
    * (max + presence array) instead of boxing via .distinct */
  private def distinctPositive(a: Array[Int]): Int = {
    var max = 0; var i = 0
    while (i < a.length) { if (a(i) > max) max = a(i); i += 1 }
    if (max == 0) return 0
    val seen = new Array[Boolean](max + 1)
    var n = 0
    i = 0
    while (i < a.length) {
      val v = a(i)
      if (v > 0 && !seen(v)) { seen(v) = true; n += 1 }
      i += 1
    }
    n
  }

  /** X1 `to_events` (segmentation/__init__.py:70-119): one event per
    * detected region in the parent channel — pixels and mask cropped
    * to the region bbox, per-channel regions flags, zeroed backgrounds,
    * `id` = region label. Pixel-less records pass through as
    * tombstones (every input appears in the output). */
  def toEvents(ds: Dataset[ImageEvent], parentChannelIndex: Int,
      groupKeys: Seq[String] = null): Dataset[ImageEvent] =
    ds.flatMap { e =>
      if (!e.hasPixels || !e.hasMask) Iterator.single(e)
      else {
        val ps = e.planeSize
        val w = e.width
        // regions of the labeled parent plane
        val parent = new Array[Int](ps)
        System.arraycopy(e.mask, parentChannelIndex * ps, parent, 0, ps)
        val nLabels = Morphology.labelCount(parent)
        val group =
          if (groupKeys == null) e.group
          else groupKeys.map(k => e.meta.getOrElse(k, "")).mkString("_")
        // per-label bboxes in ONE pass over the plane: re-scanning per
        // label is O(nLabels * pixels) — quadratic-ish on dense FOVs
        val minRA = Array.fill(nLabels + 1)(e.height)
        val minCA = Array.fill(nLabels + 1)(w)
        val maxRA = new Array[Int](nLabels + 1)
        val maxCA = new Array[Int](nLabels + 1)
        var bi = 0
        while (bi < ps) {
          val lbl = parent(bi)
          if (lbl > 0 && lbl <= nLabels) {
            val r = bi / w; val c = bi % w
            if (r < minRA(lbl)) minRA(lbl) = r
            if (c < minCA(lbl)) minCA(lbl) = c
            if (r + 1 > maxRA(lbl)) maxRA(lbl) = r + 1
            if (c + 1 > maxCA(lbl)) maxCA(lbl) = c + 1
          }
          bi += 1
        }
        (1 to nLabels).iterator.flatMap { lbl =>
          val minR = minRA(lbl); val minC = minCA(lbl)
          val maxR = maxRA(lbl); val maxC = maxCA(lbl)
          if (maxR <= minR) Iterator.empty
          else {
            val ch = e.channels
            val nh = maxR - minR; val nw = maxC - minC
            val nps = nh * nw
            val px = new Array[Float](ch * nps)
            val mk = new Array[Int](ch * nps)
            val cmb = new Array[Int](nps)
            val regions = new Array[Int](ch)
            var c = 0
            while (c < ch) {
              var r = 0
              while (r < nh) {
                var cc = 0
                while (cc < nw) {
                  val src = (minR + r) * w + (minC + cc)
                  px(c * nps + r * nw + cc) = e.pixels(c * ps + src)
                  val m = if (e.mask(c * ps + src) == lbl) 1 else 0
                  mk(c * nps + r * nw + cc) = m
                  if (m > 0) { cmb(r * nw + cc) = 1; regions(c) = 1 }
                  cc += 1
                }
                r += 1
              }
              c += 1
            }
            Iterator.single(e.copy(
              group = group,
              height = nh, width = nw,
              pixels = px, mask = mk, combinedMask = cmb,
              regions = regions,
              background = new Array[Double](ch),
              combinedBackground = new Array[Double](ch),
              bboxMinr = minR, bboxMinc = minC, bboxMaxr = maxR, bboxMaxc = maxC,
              id = lbl))
          }
        }
      }
    }
}
