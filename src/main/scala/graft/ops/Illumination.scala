package graft.ops

import graft.core.{ImageEvent, RunCaches}
import graft.core.Codecs._
import graft.kernels.Filters
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

/** Retrospective illumination correction (Jones 2006 / Singh 2014) —
  * reference A2 + J1 (illumination_correction/jones_2006.py:18-128):
  * per-group mean image → median filter → divide every image by its
  * group's correction image.
  *
  * The mean image is a typed `Aggregator` with an image-sized
  * Array[Double] buffer (partial + final merge = elementwise sum, the
  * exact `_binop`/`_combine` contract) running as ObjectHashAggregate;
  * one shuffle of ngroups buffers. Same constraint as the reference:
  * images within a group must share dimensions (`numpy.zeros_like`,
  * jones_2006.py:20). The tiny keyed result is broadcast back (J1).
  */
object Illumination {

  /** buffer = [count, c, h, w, sum...] */
  final class MeanImageAgg extends Aggregator[ImageEvent, Array[Double], Array[Double]] {
    def zero: Array[Double] = Array(0.0)
    def reduce(b: Array[Double], e: ImageEvent): Array[Double] = {
      if (!e.hasPixels) return b
      val buf =
        if (b.length == 1) {
          val nb = new Array[Double](4 + e.pixels.length)
          nb(0) = 0; nb(1) = e.channels; nb(2) = e.height; nb(3) = e.width
          nb
        } else b
      // compare the full (c,h,w) triple, not just pixel count: a
      // transposed (h,w) image has the SAME length and would sum
      // row-major layouts of incompatible shapes into a garbage
      // correction image (numpy's `buf += img` broadcast would raise)
      require(buf.length == 4 + e.pixels.length &&
        buf(1) == e.channels && buf(2) == e.height && buf(3) == e.width,
        "illumination correction requires equal image dims per group " +
          s"(group has (${buf(1).toInt},${buf(2).toInt},${buf(3).toInt}), " +
          s"event ${e.path} is (${e.channels},${e.height},${e.width}))")
      buf(0) += 1
      var i = 0
      while (i < e.pixels.length) { buf(4 + i) += e.pixels(i); i += 1 }
      buf
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      if (a.length == 1) return b
      if (b.length == 1) return a
      // the equal-dims-per-group invariant is only checked within a
      // partition by reduce; cross-partition buffers of different dims
      // would otherwise crash or silently sum a prefix depending on
      // which side is longer
      require(a.length == b.length &&
        a(1) == b(1) && a(2) == b(2) && a(3) == b(3),
        "illumination correction requires equal image dims per group " +
          s"(merge saw (${a(1).toInt},${a(2).toInt},${a(3).toInt}) vs " +
          s"(${b(1).toInt},${b(2).toInt},${b(3).toInt}))")
      a(0) += b(0)
      var i = 1
      while (i < a.length) {
        if (i >= 4) a(i) += b(i)
        i += 1
      }
      a
    }
    def finish(buf: Array[Double]): Array[Double] = buf
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** per-group correction image: mean → scipy median_filter with a
    * square size×size window (the reference's median_filter_size=50
    * default, jones_2006.py:63,93-95) → zeros→1 (`_finish`,
    * jones_2006.py:38-55) */
  def correctionImages(spark: SparkSession, ds: Dataset[ImageEvent],
      medianSize: Int = 50): Map[String, Array[Float]] = {
    // Aggregator via groupByKey.agg: partial aggregation per partition
    // (ObjectHashAggregate), only ngroups image-sized buffers shuffle.
    // The O(C·H·W·window) median-filter finish runs in the same
    // executor stage via the typed map — mirroring the reference's
    // task-side `_finish` (jones_2006.py:109-118) — so the driver only
    // ever receives the ngroups finished correction images.
    correctionDataset(spark, ds, medianSize).collect().toMap
  }

  /** the distributed plan behind [[correctionImages]], pre-collect —
    * exposed so specs can pin the finish to an executor stage */
  private[graft] def correctionDataset(spark: SparkSession, ds: Dataset[ImageEvent],
      medianSize: Int): Dataset[(String, Array[Float])] = {
    import spark.implicits._
    ds.filter(_.hasPixels)
      .groupByKey(_.group)
      .agg(new MeanImageAgg().toColumn)
      .map { case (g, buf) => g -> finishCorrection(buf, medianSize) }
  }

  /** mean → scipy-style square median filter → zeros→1, one group's
    * buffer in, one finished correction image out (executor-side) */
  private[ops] def finishCorrection(buf: Array[Double], medianSize: Int): Array[Float] = {
    val c = buf(1).toInt; val h = buf(2).toInt; val w = buf(3).toInt
    val count = buf(0)
    val corr = new Array[Float](c * h * w)
    var ch = 0
    while (ch < c) {
      val plane = new Array[Float](h * w)
      var i = 0
      while (i < h * w) { plane(i) = (buf(4 + ch * h * w + i) / count).toFloat; i += 1 }
      val filtered = Filters.medianSquare(plane, h, w, medianSize)
      i = 0
      while (i < h * w) {
        corr(ch * h * w + i) = if (filtered(i) == 0f) 1f else filtered(i)
        i += 1
      }
      ch += 1
    }
    corr
  }

  /** divide: pixels /= correction[group] (jones_2006.py:96-100);
    * `ds` is cached through `caches` for the correction images and the
    * divide pass, released by the caller's run boundary */
  def correct(spark: SparkSession, ds: Dataset[ImageEvent],
      medianSize: Int = 50, caches: RunCaches = new RunCaches): Dataset[ImageEvent] = {
    val cached = caches.cache(ds)
    val corr = correctionImages(spark, cached, medianSize)
    divide(spark, cached, corr)
  }

  /** correct with precomputed images (the reference's `precomputed`
    * pickle path, jones_2006.py:102-107 — here a keyed parquet via
    * graft.export.Export.saveCorrectionImages/loadCorrectionImages) */
  def correctPrecomputed(spark: SparkSession, ds: Dataset[ImageEvent],
      path: String): Dataset[ImageEvent] =
    divide(spark, ds, graft.export.Export.loadCorrectionImages(spark, path))

  private def divide(spark: SparkSession, ds: Dataset[ImageEvent],
      corr: Map[String, Array[Float]]): Dataset[ImageEvent] = {
    val bc = spark.sparkContext.broadcast(corr)
    ds.map(ImageEvent.whenPixels { e =>
      bc.value.get(e.group) match {
        // the reference's dict lookup raises KeyError on a group the
        // (possibly precomputed/stale) correction map doesn't cover —
        // passing the record through UNCORRECTED would silently mix
        // corrected and uncorrected groups in the same feature table
        case None => throw new NoSuchElementException(
          s"no correction image for group '${e.group}' " +
            s"(map covers ${bc.value.keys.toSeq.sorted.mkString(", ")})")
        case Some(mu) =>
          // a stale/mismatched precomputed artifact must fail like the
          // reference's numpy broadcast error, not mis-align channels
          require(mu.length == e.pixels.length,
            s"correction image for group '${e.group}' has ${mu.length} " +
              s"values but the event has ${e.pixels.length} pixels")
          val out = new Array[Float](e.pixels.length)
          var i = 0
          while (i < e.pixels.length) { out(i) = e.pixels(i) / mu(i); i += 1 }
          e.copy(pixels = out)
      }
    })
  }
}
