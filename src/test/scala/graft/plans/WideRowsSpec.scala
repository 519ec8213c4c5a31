package graft.plans

import graft.SparkSpec
import graft.core.{ImageEvent, Synthetic}
import graft.ops.{Features, Masking}
import graft.pipeline.{MaskBranchConfig, Pipeline, PipelineConfig}
import graft.rel.{Digest, PipelineQueries}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.Md5
import org.apache.spark.sql.execution.{ProjectExec, SerializeFromObjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types._

/** The wide-row plan node against the `Encoders.row` frame it replaced:
  * same schema (nullability included), same rows value for value, no
  * object serializer in the executed plan, and one wide-row pass for
  * every config, aggregate-bearing ones included. Digesting a wide-row
  * frame keeps that one pass and plans no per-column projection. */
class WideRowsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val channels = Seq("ch0", "ch1", "ch2")

  /** the reference's scip_zarr.yml shape: four branches plus raw */
  private val referenceCfg = PipelineConfig(
    channelNames = channels,
    branches = Seq(
      MaskBranchConfig("circle-1", Masking.Circle),
      MaskBranchConfig("circle-2", Masking.Circle),
      MaskBranchConfig("li", Masking.Li(Seq(0.75, 0.75, 0.75))),
      MaskBranchConfig("spot", Masking.Spot(5))))

  /** a filter no event passes: every event tombstoned, feature cells null */
  private val tombstoneCfg = PipelineConfig(
    channelNames = channels,
    branches = Seq(MaskBranchConfig("b", Masking.Circle)),
    maskFilters = Seq(Masking.StdFilter(Seq(0), threshold = 1e9)))

  /** the mechanism WideRowsPlan replaced: a `Row` per record through
    * the row encoder of the declared schema */
  private def rowEncoderFrame(ds: Dataset[ImageEvent], sch: StructType)(
      cells: ImageEvent => Array[Any]): DataFrame =
    ds.map(e => Row.fromSeq(cells(e).toSeq))(Encoders.row(sch))

  /** rows keyed by meta_idx, NaN made comparable to itself */
  private def keyed(df: DataFrame): Map[Long, Seq[Any]] =
    df.collect().map { r =>
      r.getAs[Long]("meta_idx") -> r.toSeq.map {
        case d: java.lang.Double if d.isNaN => "NaN"
        case v => v
      }
    }.toMap

  /** the pipeline's wide frame equals the row-encoder frame of the same
    * cells; returns its rows */
  private def assertSameFrame(cfg: PipelineConfig, nEvents: Int): Map[Long, Seq[Any]] = {
    val (sch, cells) = Pipeline.fusedRow(cfg, Pipeline.maskSteps(cfg))
    val ds = Pipeline.prepare(spark, Synthetic.conftest(spark, nEvents), cfg)
    val expected = rowEncoderFrame(ds, sch)(cells)
    val wide = Pipeline.run(spark, Synthetic.conftest(spark, nEvents), cfg)
    assert(wide.schema == expected.schema) // StructType equality covers nullability
    val (a, b) = (keyed(wide), keyed(expected))
    assert(a.size == nEvents && a == b)
    val plan = collect(wide.queryExecution.executedPlan) { case p => p }
    assert(plan.exists(_.isInstanceOf[WideRowsExec]), plan)
    assert(!plan.exists(_.isInstanceOf[SerializeFromObjectExec]), plan)
    a
  }

  test("reference shape (four branches + raw) equals the row-encoder frame") {
    assertSameFrame(referenceCfg, 6)
  }

  test("tombstoned events: null feature cells equal the row-encoder frame") {
    val rows = assertSameFrame(tombstoneCfg, 6)
    // meta and regions survive; every feature cell is null
    assert(rows.values.forall(r => r.take(4).forall(_ != null) && r.contains(null)))
  }

  test("per-branch extract equals the row-encoder frame") {
    val types = Seq("regions", "bbox", "shape", "raw", "intensity")
    val channels = this.channels // a local: the closure below must not capture the suite
    val sch = Features.schema(channels, types, "b")
    val lay = Features.layout(channels, types)
    val ds = Masking.branch(Synthetic.conftest(spark, 5), Masking.Spot(3), 0)
    val wide = Features.extract(ds, channels, types, "b")
    val expected = rowEncoderFrame(ds, sch)(e =>
      Features.metaCells(e) ++ Features.featureCells(e, channels, lay))
    assert(wide.schema == expected.schema)
    assert(keyed(wide) == keyed(expected))
  }

  test("aggregate-bearing branches: one pass, no join, partition count unchanged") {
    // the population filter and normalization ride in the fused pass:
    // the output keeps the source's partitions (one .h5ad per partition)
    for ((pop, n) <- Seq((false, 12), (true, 40))) {
      val cfg = PipelineConfig(
        channelNames = channels,
        branches = Seq(MaskBranchConfig("a", Masking.Circle),
          MaskBranchConfig("b", Masking.Spot(3))),
        populationFilter = pop, normalize = true,
        featureTypes = Seq("regions", "bbox", "intensity"))
      val out = Pipeline.run(spark, Synthetic.conftest(spark, n), cfg)
      assert(out.collect().length == n)
      val plan = out.queryExecution.executedPlan
      // two branches + raw, one pass
      assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
      assert(collect(plan) { case w: WideRowsExec => w }.length == 1, plan)
      assert(plan.execute().getNumPartitions == 4)
      spark.catalog.clearCache()
    }
  }

  test("nulls of every field type and a non-ASCII string equal the row-encoder frame") {
    val sch = StructType(Seq(StructField("k", LongType), StructField("s", StringType),
      StructField("l", LongType), StructField("i", IntegerType), StructField("d", DoubleType)))
    val cells = (e: ImageEvent) =>
      if (e.idx % 2 == 0) Array[Any](e.idx, null, null, null, null)
      else Array[Any](e.idx, "Zellkern · 細胞 · ядро ✓", -e.idx, e.id, -0.0)
    val ds = Synthetic.conftest(spark, 6)
    val wide = Features.wideFrame(ds, sch)(cells)
    val expected = rowEncoderFrame(ds, sch)(cells)
    assert(wide.schema == expected.schema)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
      case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.head.asInstanceOf[Long]).toSeq
    val got = rows(wide)
    assert(got == rows(expected))
    assert(got.count(_.tail.forall(_ == null)) == 3 && got.exists(_.contains("Zellkern · 細胞 · ядро ✓")))
    val bad = intercept[UnsupportedOperationException] {
      Features.wideFrame(ds, StructType(Seq(StructField("f", FloatType))))(_ => Array[Any](1.0f))
        .collect()
    }
    assert(bad.getMessage.contains("wide row field f has type float"))
  }

  /** the executed plan's wide-row nodes and md5-computing projections */
  private def digestPlan(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan
    (collect(plan) { case w: WideRowsExec => w }.length,
      collect(plan) {
        case p: ProjectExec if p.projectList.exists(_.exists(_.isInstanceOf[Md5])) => p
      }.length)
  }

  test("a wide-row frame is digested inside its one node; a parquet frame by projection") {
    val fns = PipelineQueries.digestables.toMap
    for (name <- Seq("p01_pipeline_e2e", "p02_segment_cells")) {
      val digested = Digest.rows(fns(name)(spark, sfDir), PipelineQueries.DigestKeys)
      assert(digestPlan(digested) == ((1, 0)), s"$name: ${digested.queryExecution.executedPlan}")
      assert(digested.columns.toSeq ==
        PipelineQueries.DigestKeys ++ Seq("row_digest", "schema_digest"))
    }
    val dir = java.nio.file.Files.createTempDirectory("wide-digest").resolve("t").toString
    Features.extract(Synthetic.conftest(spark, 4), channels, Seq("regions", "bbox"))
      .write.parquet(dir)
    val fromParquet = Digest.rows(spark.read.parquet(dir), PipelineQueries.DigestKeys)
    assert(digestPlan(fromParquet) == ((0, 1)), fromParquet.queryExecution.executedPlan)
    assert(fromParquet.collect().length == 4)
  }

  test("setup installs the strategy once") {
    val session = spark.newSession()
    WideRowsStrategy.setup(session)
    WideRowsStrategy.setup(session)
    assert(session.experimental.extraStrategies.count(_ == WideRowsStrategy) == 1)
  }
}
