package graft.pipeline

import graft.SparkSpec
import graft.core.ImageEvent
import graft.core.Codecs._
import graft.ops.{Features, Masking, Normalization, PopulationFilter}
import org.apache.spark.sql.{DataFrame, Dataset}

/** Proves the single fused pass of an aggregate-bearing config equal,
  * bit for bit, to the per-branch composition it replaced: every
  * branch `Masking.branch → PopulationFilter → Normalization.normalize →
  * Features.extract` on its own (raw: the unmasked stream), the tables
  * joined on the event UID (`meta_path`, `meta_idx`, `meta_id`).
  * Doubles compare by `doubleToLongBits` (every NaN equals every NaN).
  *
  * The fixture makes each aggregate matter: the population filter
  * drops events in every chain, raw included, and the li chain's
  * threshold drops one the other chains keep (its masks scrub away
  * different events, so its stats differ); the records it drops widen
  * the extents; group g2's third channel is
  * never masked by li or spot (its std filter fails), so those chains
  * have no extents there; NaN pixels, mask-filter tombstones and three
  * groups over three partitions ride along. The first test checks
  * these properties of the fixture, so the equivalences below keep
  * their power. */
class AggregateChainSpec extends SparkSpec {

  private val H = 24
  private val W = 24
  private val channels = Seq("a", "b", "c")
  private val types = Seq("regions", "bbox", "intensity")

  private val base = PipelineConfig(
    channelNames = channels,
    maskFilters = Seq(Masking.StdFilter(Seq(0), 0.2), Masking.StdFilter(Seq(2), 0.5)),
    branches = Seq(MaskBranchConfig("circle", Masking.Circle),
      MaskBranchConfig("li", Masking.Li(Seq(1.0, 1.0, 1.0))),
      MaskBranchConfig("spot", Masking.Spot(3))),
    featureTypes = types)

  /** 36 events of three 24×24 channels, groups g0-g2, 3 partitions:
    * a blob near the centre over noise, except event 13 (flat first
    * channel: the std filter tombstones it), 4 and 22 (no blob, a
    * bright band along the top border), 7, 16 and 25 (everything
    * ×0.55), 31 (×0.05); g2's third channel is flat, and every fifth
    * event has a NaN pixel in its second channel. */
  private def fixture(): Dataset[ImageEvent] = {
    val ps = H * W
    val events = (0 until 36).map { i =>
      val rng = new scala.util.Random(1000 + i)
      val (cy, cx) = (12 + rng.nextInt(3) - 1, 12 + rng.nextInt(3) - 1)
      val border = i == 4 || i == 22
      val amp = Array(if (border) 0.0 else 80 + 10 * rng.nextGaussian(), 50.0,
        if (i % 3 == 2) 0.0 else 40.0)
      val px = new Array[Float](3 * ps)
      for (c <- 0 until 3; r <- 0 until H; col <- 0 until W) {
        val d2 = ((r - cy) * (r - cy) + (col - cx) * (col - cx)).toDouble
        val noise = if (c == 2 && i % 3 == 2) 0.1 * rng.nextGaussian() else rng.nextGaussian()
        val band = if (c == 0 && border && r < 3) 150.0 else 0.0
        px(c * ps + r * W + col) = (10 + noise + band + amp(c) * math.exp(-d2 / 18)).toFloat
      }
      if (i == 13) java.util.Arrays.fill(px, 0, ps, 10f)
      val scale = i match { case 7 | 16 | 25 => 0.55f; case 31 => 0.05f; case _ => 1f }
      for (k <- px.indices) px(k) *= scale
      if (i % 5 == 1) px(ps + 3 * W + 3) = Float.NaN
      ImageEvent.fromPixels(s"fixture://$i", i.toLong, s"g${i % 3}", Map.empty, 3, H, W, px)
    }
    spark.createDataset(spark.sparkContext.parallelize(events, 3))
  }

  /** every chain's records before the population filter: the mask
    * branches in config order, then raw */
  private def chainInputs(cfg: PipelineConfig): Seq[Dataset[ImageEvent]] = {
    val parent = Pipeline.prepare(spark, fixture(), cfg).cache()
    cfg.branches.map(b => Masking.branch(parent, b.method, cfg.mainChannelIndex,
      cfg.combinedIndices)) :+ parent
  }

  /** the per-branch composition, joined on the event UID */
  private def reference(cfg: PipelineConfig): DataFrame = {
    val prefixes = cfg.branches.map(_.name) :+ "raw"
    val tables = chainInputs(cfg).zip(prefixes).map { case (in, prefix) =>
      var ds = in
      if (cfg.populationFilter) ds = PopulationFilter(spark, ds)
      if (cfg.normalize) ds = Normalization.normalize(spark, ds)
      Features.extract(ds, cfg.channelNames, if (prefix == "raw") Seq("raw") else types, prefix)
    }
    tables.reduceLeft((a, b) =>
      a.join(b.drop("meta_group"), Seq("meta_path", "meta_idx", "meta_id")))
  }

  /** rows by event UID, each a map column → value, doubles as bits */
  private def rows(df: DataFrame): Map[(String, Long, Int), Map[String, Any]] = {
    val cols = df.columns
    val out = df.collect().map { r =>
      (r.getAs[String]("meta_path"), r.getAs[Long]("meta_idx"), r.getAs[Int]("meta_id")) ->
        cols.indices.map(i => cols(i) -> (r.get(i) match {
          case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
          case v => v
        })).toMap
    }
    assert(out.map(_._1).distinct.length == out.length, "event UIDs repeat")
    out.toMap
  }

  private def assertSameAsReference(cfg: PipelineConfig): Unit = {
    try {
      val fused = Pipeline.run(spark, fixture(), cfg)
      val expected = reference(cfg)
      assert(fused.schema.map(f => f.name -> f.dataType).toSet ==
        expected.schema.map(f => f.name -> f.dataType).toSet)
      val (got, want) = (rows(fused), rows(expected))
      assert(got.size == 36 && got.keySet == want.keySet)
      val diffs = for ((k, row) <- got.toSeq; (c, v) <- row if want(k)(c) != v)
        yield s"${k._2}.$c"
      assert(diffs.isEmpty,
        s"${diffs.length} cells differ: ${diffs.sorted.take(20).mkString(", ")}")
    } finally spark.catalog.clearCache()
  }

  test("the fixture exercises every aggregate") {
    try {
      val ins = chainInputs(base)
      def live(ds: Dataset[ImageEvent]): Set[Long] =
        ds.collect().filter(_.hasPixels).map(_.idx).toSet
      val dropped = ins.map(in => live(in) -- live(PopulationFilter(spark, in)))
      val Seq(circle, li, spot, raw) = dropped
      assert(raw.nonEmpty && li != raw && li != circle && spot.nonEmpty, dropped)
      // the dropped records widen some chain's extents
      assert(ins.exists(in => Normalization.groupMinMax(spark, in) !=
        Normalization.groupMinMax(spark, PopulationFilter(spark, in))))
      // li and spot never mask g2's third channel; circle and raw do
      val extents = ins.map(Normalization.groupMinMax(spark, _))
      assert(extents.map(_.contains(("g2", 2))) == Seq(true, false, false, true))
      // event 13 is a mask-filter tombstone
      assert(!live(ins.last).contains(13L) && ins.last.count() == 36)
    } finally spark.catalog.clearCache()
  }

  test("population filter only: the fused pass equals the per-branch composition") {
    assertSameAsReference(base.copy(populationFilter = true))
  }

  test("normalization only: the fused pass equals the per-branch composition") {
    assertSameAsReference(base.copy(normalize = true))
  }

  test("population filter and normalization: the fused pass equals the per-branch composition") {
    assertSameAsReference(base.copy(populationFilter = true, normalize = true))
  }
}
