package graft.ops

import graft.core.ImageEvent
import graft.core.Codecs._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Group-wise quantile (min-max) normalization — reference A1 + P3
  * (normalization/quantile_normalization.py:25-89).
  *
  * Scale design (SURVEY.md §2.1-A1): instead of folding whole images
  * into an aggregation buffer, each record first reduces itself to a
  * (channels × 2) extent — masked pixels only when a mask is present,
  * exactly like `combine_extent_partition` — and the group extents
  * come from builtin min/max over the exploded per-channel rows:
  * partial aggregation map-side, one light shuffle of ngroups×C rows,
  * codegen throughout. The tiny result is collected and broadcast
  * back through the executors (the reference's J2 dict broadcast). The
  * fused pipeline takes the extents of all its branch chains in one
  * such aggregate, keyed by chain ([[keyedExtents]]).
  */
object Normalization {

  /** per-group, per-channel (min, max) */
  type Extents = Map[(String, Int), (Double, Double)]

  /** one record's per-channel extent rows `(key, group, channel, min,
    * max)` over its masked (or all) pixels; a tombstone gives none */
  def extentRows(key: Int)(e: ImageEvent): Iterator[(Int, String, Int, Double, Double)] =
    if (!e.hasPixels) Iterator.empty
    else {
      val ps = e.planeSize
      (0 until e.channels).iterator.flatMap { c =>
        var mn = Double.MaxValue; var mx = Double.MinValue
        var any = false
        var hasNaN = false
        var i = 0
        while (i < ps) {
          val inMask = !e.hasMask || e.mask(c * ps + i) > 0
          if (inMask) {
            val v = e.pixels(c * ps + i)
            if (java.lang.Float.isNaN(v)) hasNaN = true
            else {
              if (v < mn) mn = v
              if (v > mx) mx = v
              any = true
            }
          }
          i += 1
        }
        // reference parity quirk: combine_extent_partition folds
        // min(acc, np.min(record)) with PYTHON's min, and
        // min(x, NaN) returns x — so a record with ANY NaN pixel in
        // a channel contributes NOTHING to that channel's extents
        // (np.min of the whole slice is NaN, which python-min then
        // discards). Empty masked slices are skipped the same way.
        if (any && !hasNaN) Iterator((key, e.group, c, mn, mx)) else Iterator.empty
      }
    }

  /** each key's [[Extents]] from [[extentRows]] */
  def keyedExtents(rows: Dataset[(Int, String, Int, Double, Double)]): Map[Int, Extents] =
    rows.toDF("key", "group", "channel", "mn", "mx")
      .groupBy("key", "group", "channel")
      .agg(min("mn"), max("mx"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (k, rs) =>
        k -> rs.map(r => (r.getString(1), r.getInt(2)) -> (r.getDouble(3), r.getDouble(4))).toMap
      }

  /** per-group per-channel (min, max) over masked (or all) pixels */
  def groupMinMax(spark: SparkSession, ds: Dataset[ImageEvent]): Extents = {
    import spark.implicits._
    keyedExtents(ds.flatMap(extentRows(0))).getOrElse(0, Map.empty)
  }

  /** (pixels − min) / (max − min) per channel with the group's extents
    * (sample_normalization, quantile_normalization.py:67-89); a
    * tombstone passes through */
  def normalizeRecord(extents: Extents)(e: ImageEvent): ImageEvent =
    if (!e.hasPixels) e
    else {
      val ps = e.planeSize
      val out = new Array[Float](e.pixels.length)
      var c = 0
      while (c < e.channels) {
        // missing extents (channel masked empty / all-NaN across the
        // group) fall back to the reference's untouched ±inf foldby
        // init, and the formula applies WITHOUT a zero-span guard —
        // numpy divides by zero: a constant channel normalizes to
        // NaN (v==lo ⟹ 0/0), an empty-extent channel to NaN via
        // -inf/-inf. Guarding either would diverge from
        // sample_normalization (quantile_normalization.py:83-84).
        val (lo, hi) = extents.getOrElse((e.group, c),
          (Double.PositiveInfinity, Double.NegativeInfinity))
        val span = hi - lo
        var i = 0
        while (i < ps) {
          out(c * ps + i) = ((e.pixels(c * ps + i) - lo) / span).toFloat
          i += 1
        }
        c += 1
      }
      e.copy(pixels = out)
    }

  /** [[normalizeRecord]] over `ds` with its own [[groupMinMax]].
    *
    * Caches `ds` for its two passes (extents + normalize) and cannot
    * release it itself — the second pass is lazy. Cache scope is the
    * CALLER's: Verify/Bench clear between queries; a long-lived
    * session calling this repeatedly should do the same. (The
    * pipeline does not call this: it takes every chain's extents in
    * [[keyedExtents]] and caches through its run's
    * [[graft.core.RunCaches]].) */
  def normalize(spark: SparkSession, ds: Dataset[ImageEvent]): Dataset[ImageEvent] = {
    val cached = ds.cache() // shared subplan: extents + normalize pass
    val bc = spark.sparkContext.broadcast(groupMinMax(spark, cached))
    cached.map(e => normalizeRecord(bc.value)(e))
  }
}
