package graft.ops

import graft.SparkSpec
import graft.core.{ImageEvent, Synthetic}
import graft.core.Codecs._

/** Golden tests ported from the reference suite: the arange-image
  * fixtures (test/conftest.py:39-71) and the [0,99]/[22,77] quantile
  * goldens (test/normalization/test_quantile_normalization.py:23-56).
  */
class OpsSpec extends SparkSpec {

  def fixture(n: Int = 10) = Synthetic.conftest(spark, n)

  test("group min/max on full images: [0, 99] per group per channel") {
    val mm = Normalization.groupMinMax(spark, fixture())
    assert(mm.keySet.map(_._1) == Set("one", "two"))
    mm.values.foreach { case (lo, hi) => assert(lo == 0.0 && hi == 99.0) }
  }

  test("group min/max with trimmed mask: [22, 77] (reference golden)") {
    // reference trimmed mask: full except 2 border rows/cols plus
    // offset — reproduces pixel range 22..77 on the arange image:
    // mask rows 2..7, cols 2..7 => min = 2*10+2 = 22, max = 7*10+7 = 77
    import spark.implicits._
    val masked = fixture().map { e =>
      val ps = e.planeSize
      val m = new Array[Int](e.channels * ps)
      for (c <- 0 until e.channels; r <- 2 to 7; col <- 2 to 7)
        m(c * ps + r * e.width + col) = 1
      e.copy(mask = m)
    }
    val mm = Normalization.groupMinMax(spark, masked)
    mm.values.foreach { case (lo, hi) => assert(lo == 22.0 && hi == 77.0) }
  }

  test("normalize maps into [0,1] and tombstones pass through") {
    import spark.implicits._
    val withTombstone = fixture().map(e => if (e.idx == 3) e.tombstone else e)
    val out = Normalization.normalize(spark, withTombstone).collect()
    assert(out.length == 10)
    out.filter(_.hasPixels).foreach { e =>
      assert(e.pixels.forall(v => v >= 0f && v <= 1f))
      assert(e.pixels.min == 0f && e.pixels.max == 1f)
    }
    assert(out.count(!_.hasPixels) == 1) // tombstone survived untouched
  }

  test("population filter tombstones low-sum outliers, keeps the rest") {
    import spark.implicits._
    // 9 normal events + 1 near-zero event
    val ds = fixture().map { e =>
      if (e.idx == 7) e.copy(pixels = e.pixels.map(_ * 1e-6f)) else e
    }
    val out = PopulationFilter(spark, ds).collect()
    assert(out.length == 10) // nothing dropped, only tombstoned
    val tombstoned = out.filter(!_.hasPixels)
    assert(tombstoned.map(_.idx).toSet == Set(7L))
  }

  test("illumination correction divides by the group mean image") {
    import spark.implicits._
    // all images identical within a group -> corrected pixels ≈ px/median-filtered(px)
    val out = Illumination.correct(spark, fixture(), medianSize = 5).collect()
    assert(out.length == 10)
    out.foreach(e => assert(e.hasPixels))
    // arange image / its median-filtered self: center pixels ≈ 1
    val e = out.head
    val center = e.pixels(e.planeSize / 2 + 5)
    assert(math.abs(center - 1.0) < 0.35)
  }

  test("illumination finish (median filter) runs in an executor stage") {
    val plan = Illumination.correctionDataset(spark, fixture(), medianSize = 5)
      .queryExecution.executedPlan.toString
    // the typed map carrying finishCorrection sits ABOVE the aggregate:
    // the per-group median filter is task-side work, the driver only
    // collects finished images
    val agg = plan.indexOf("ObjectHashAggregate")
    val mapEl = plan.indexOf("MapElements")
    assert(agg >= 0 && mapEl >= 0 && mapEl < agg,
      s"expected MapElements above ObjectHashAggregate:\n$plan")
  }

  test("illumination precomputed path: save/load roundtrip equals direct") {
    val direct = Illumination.correct(spark, fixture(), medianSize = 5)
      .collect().sortBy(_.idx)
    val images = Illumination.correctionImages(spark, fixture(), medianSize = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft-corr").toString
    graft.export.Export.saveCorrectionImages(spark, images, s"$dir/corr.parquet")
    val pre = Illumination.correctPrecomputed(spark, fixture(), s"$dir/corr.parquet")
      .collect().sortBy(_.idx)
    direct.zip(pre).foreach { case (a, b) =>
      assert(a.pixels.sameElements(b.pixels))
    }
  }

  test("circle mask branch: bbox and backgrounds match the disk") {
    val out = Masking.branch(fixture(), Masking.Circle, 0).collect()
    out.foreach { e =>
      assert(e.hasMask)
      assert(e.regions.forall(_ == 1))
      // disk radius 3 centered at (5,5): bbox rows/cols 2..8
      assert(e.bboxMinr == 2 && e.bboxMinc == 2 && e.bboxMaxr == 9 && e.bboxMaxc == 9)
      assert(e.combinedMask.sum > 0)
      // background = mean outside the disk; combined equals per-channel
      // (identical channels)
      assert(e.background.zip(e.combinedBackground).forall { case (a, b) =>
        math.abs(a - b) < 1e-9
      })
    }
  }

  test("mask_filter gates otsu/li/spot but never circle/watershed (reference parity)") {
    import graft.core.ImageEvent
    // reference: only otsu.py:18 / li.py:35 / spot.py:33 consult
    // mask_filter; circle.py and watershed.py mask every channel
    val px = Array.tabulate(2 * 8 * 8)(i => (i % 7).toFloat)
    val e = ImageEvent.fromPixels("t", 1, "g", Map.empty, 2, 8, 8, px)
      .copy(maskFilter = Array(false, false))
    val circled = Masking.masksRecord(Masking.Circle)(e)
    assert(circled.regions.toSeq == Seq(1, 1), "circle must ignore mask_filter")
    assert(circled.mask.exists(_ > 0))
    val otsued = Masking.masksRecord(Masking.Otsu)(e)
    assert(otsued.regions.toSeq == Seq(0, 0), "otsu must honor mask_filter")
    assert(otsued.mask.forall(_ == 0))
  }

  test("border scrub tombstones events whose main-channel mask dies") {
    import spark.implicits._
    // mask = full top band touching the border everywhere -> scrubbed to zero
    val ds = fixture().map { e =>
      val ps = e.planeSize
      val m = new Array[Int](e.channels * ps)
      for (c <- 0 until e.channels; col <- 0 until e.width)
        m(c * ps + col) = 1 // row 0 strip: full border presence
      e.copy(mask = m)
    }
    val out = ds.map(ImageEvent.whenPixels(Masking.scrubRecord(0))).collect()
    assert(out.forall(e => !e.hasPixels && !e.hasMask))
    assert(out.forall(_.regions.forall(_ == 0)))
  }

  test("segmentation explodes FOVs into per-cell events with stable ids") {
    import spark.implicits._
    val src = Synthetic.cells(spark, 8, channels = 2)
    val seg = Segmentation.segment(src, Segmentation.WatershedDapi(cellDiameter = 8), 0)
    val cells = Segmentation.toEvents(seg, 0).collect()
    assert(cells.nonEmpty)
    cells.foreach { c =>
      assert(c.id >= 1)
      assert(c.height <= 48 && c.width <= 48)
      assert(c.hasPixels && c.hasMask)
      assert(c.background.forall(_ == 0.0))
      // mask crops are consistent: combined = union over channels
      val ps = c.planeSize
      (0 until ps).foreach { i =>
        val any = (0 until c.channels).exists(ch => c.mask(ch * ps + i) > 0)
        assert((c.combinedMask(i) > 0) == any)
      }
    }
    // multiple cells from at least one multi-blob FOV
    assert(cells.groupBy(_.idx).exists(_._2.length >= 2))
  }

  test("projection: max and mean over a 2-deep stack") {
    val px = Array.tabulate(2 * 2 * 4)(_.toFloat) // (c=1? no: c=2,z=2? ) use c=1,z=2,h=2,w=4? keep simple
    // c=1, z=2, h=2, w=4: z0 = 0..7, z1 = 8..15
    val maxed = Projection.projectStack(px, 1, 2, 2, 4, "max")
    assert(maxed.toSeq == (8 until 16).map(_.toFloat))
    val meaned = Projection.projectStack(px, 1, 2, 2, 4, "mean")
    assert(meaned.toSeq == (0 until 8).map(i => (i + i + 8) / 2f))
  }

  test("sampling: exact k, deterministic under a seed") {
    val a = Sampling.sampleExact(fixture(), 4).collect().map(_.idx).toSet
    val b = Sampling.sampleExact(fixture(), 4).collect().map(_.idx).toSet
    assert(a.size == 4)
    assert(a == b)
  }

  test("sampling with replacement: exact k, duplicates possible (L2)") {
    val s = Sampling.sampleWithReplacement(fixture(), 15).collect().map(_.idx)
    assert(s.length == 15)           // exact k from 10 source events
    assert(s.distinct.length <= 10)  // with replacement: k > n forces dups
  }
}
