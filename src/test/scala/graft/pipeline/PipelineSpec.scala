package graft.pipeline

import graft.SparkSpec
import graft.ops.{Features, Masking}

/** E2e pipeline test mirroring the reference's own
  * (test/test_main.py:10-58 over test/data/scip_zarr.yml): 4 mask
  * branches (circle-1, circle-2, li, spot) over 10 synthetic events,
  * with the determinism assertion circle-1 ≡ circle-2
  * (test_main.py:52) and the no-NaN feature-completeness check
  * (test/features/test_feature_extraction.py:6-19).
  */
class PipelineSpec extends SparkSpec {

  lazy val table = Pipeline.referenceShape(spark, nEvents = 10).cache()

  test("e2e: one row per input event") {
    assert(table.count() == 10)
  }

  test("e2e: expected column families per branch") {
    val cols = table.columns.toSeq
    for (branch <- Seq("circle-1", "circle-2", "li", "spot")) {
      assert(cols.contains(s"meta_${branch}_regions_ch0"), s"regions for $branch")
      assert(cols.contains(s"meta_${branch}_bbox_minr"), s"bbox for $branch")
      assert(cols.contains(s"feat_${branch}_area_combined"), s"shape for $branch")
      assert(cols.contains(s"feat_${branch}_mean_ch0"), s"intensity for $branch")
      assert(cols.contains(s"feat_${branch}_glcm_mean_contrast_3_ch0"), s"texture for $branch")
    }
    // 4 branches x 3 channels of regions = 12 regions columns (test_main.py:42-50 shape)
    assert(cols.count(_.contains("regions")) == 12)
  }

  test("e2e determinism: circle-1 and circle-2 features are identical") {
    val rows = table.collect()
    val cols = table.columns
    val c1 = cols.filter(_.startsWith("feat_circle-1_"))
    c1.foreach { col1 =>
      val col2 = "feat_circle-2_" + col1.stripPrefix("feat_circle-1_")
      val i1 = cols.indexOf(col1); val i2 = cols.indexOf(col2)
      assert(i2 >= 0, s"missing twin column $col2")
      rows.foreach { r =>
        val v1 = r.get(i1); val v2 = r.get(i2)
        assert(v1 == v2 || (v1 == null && v2 == null),
          s"$col1=$v1 != $col2=$v2")
      }
    }
  }

  test("e2e: circle-branch features carry no NaNs or nulls") {
    val rows = table.collect()
    val cols = table.columns
    val circleFeats = cols.zipWithIndex.filter(_._1.startsWith("feat_circle-1_"))
    rows.foreach { r =>
      circleFeats.foreach { case (name, i) =>
        assert(!r.isNullAt(i), s"null in $name")
        val v = r.getDouble(i)
        assert(!v.isNaN, s"NaN in $name")
      }
    }
  }

  test("feature schema is static and computed before execution") {
    val sch = Features.schema(Seq("ch0", "ch1"), Seq("regions", "bbox", "intensity"), "b")
    assert(sch.fieldNames.contains("meta_path"))
    assert(sch.fieldNames.contains("meta_b_regions_ch0"))
    assert(sch.fieldNames.contains("meta_b_bbox_minr"))
    assert(sch.fieldNames.contains("feat_b_mean_ch0"))
    assert(sch.fieldNames.contains("feat_b_combined_bgcorr_edge_kurtosis_ch1"))
    // 4 meta + 2 regions + 4 bbox + 11*8*2 intensity
    assert(sch.length == 4 + 2 + 4 + 176)
  }

  test("raw+intensity collision: intensity wins (reference dict semantics)") {
    val names = Features.featureNames(Seq("c"), Seq("raw", "intensity"))
    assert(names.count(_ == "mean_c") == 1)
  }

  test("fused single-pass path equals the per-branch join path") {
    import graft.core.Synthetic
    val cfgFused = PipelineConfig(
      channelNames = Seq("ch0", "ch1", "ch2"),
      branches = Seq(MaskBranchConfig("a", Masking.Circle),
        MaskBranchConfig("b", Masking.Spot(3))),
      featureTypes = Seq("regions", "bbox", "intensity"))
    // the reference: each branch (and raw) extracted on its own and the
    // tables joined on the event UID; AggregateChainSpec does the same
    // with the population filter and normalization in every chain
    val fused = Pipeline.run(spark, Synthetic.conftest(spark, 6), cfgFused)
    val a = graft.ops.Features.extract(
      Masking.branch(Synthetic.conftest(spark, 6), Masking.Circle, 0),
      Seq("ch0", "ch1", "ch2"), Seq("regions", "bbox", "intensity"), "a")
    val b = graft.ops.Features.extract(
      Masking.branch(Synthetic.conftest(spark, 6), Masking.Spot(3), 0),
      Seq("ch0", "ch1", "ch2"), Seq("regions", "bbox", "intensity"), "b")
    // the reference's mandatory unmasked raw branch (main.py:206)
    val raw = graft.ops.Features.extract(
      Synthetic.conftest(spark, 6),
      Seq("ch0", "ch1", "ch2"), Seq("raw"), "raw")
    val joined = a
      .join(b.drop("meta_group"), Seq("meta_path", "meta_idx", "meta_id"))
      .join(raw.drop("meta_group"), Seq("meta_path", "meta_idx", "meta_id"))
    assert(fused.count() == 6 && joined.count() == 6)
    val fCols = fused.columns.sorted
    assert(fCols.toSeq == joined.columns.sorted.toSeq)
    val key = Seq("meta_idx")
    // canonicalize NaN: Scala's boxed-numeric == compares primitive
    // doubles, so NaN slots (legitimate scipy-parity outputs for
    // zero-variance views) would never compare equal to themselves
    def canon(v: Any): Any = v match {
      case d: java.lang.Double if d.isNaN => "NaN"
      case other => other
    }
    val f = fused.collect().map(r => r.getAs[Long]("meta_idx") ->
      fCols.map(c => canon(r.get(fused.columns.indexOf(c)))).toSeq).toMap
    val j = joined.collect().map(r => r.getAs[Long]("meta_idx") ->
      fCols.map(c => canon(r.get(joined.columns.indexOf(c)))).toSeq).toMap
    assert(f == j)
  }

  test("tombstoned events keep meta, lose features (every input appears)") {
    val cfg = PipelineConfig(
      channelNames = Seq("ch0", "ch1", "ch2"),
      branches = Seq(MaskBranchConfig("b", Masking.Circle)),
      // population filter over identical images: none fall below the
      // 5th percentile -> all kept; then force tombstones via a filter
      // that can't pass (std of arange tile > huge threshold)
      maskFilters = Seq(Masking.StdFilter(Seq(0), threshold = 1e9)),
      populationFilter = false)
    val out = Pipeline.run(spark, graft.core.Synthetic.conftest(spark, 6), cfg)
    assert(out.count() == 6)
    val featCols = out.columns.filter(_.startsWith("feat_"))
    val firstFeat = featCols.head
    // all tombstoned -> all feature cells null
    assert(out.filter(out(firstFeat).isNull).count() == 6)
  }
}
