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
    * the row encoder of the declared schema, over the same cells */
  private def rowEncoderFrame(ds: Dataset[ImageEvent], sch: StructType)(
      fill: (ImageEvent, WideCells) => Unit): DataFrame = {
    val n = sch.length
    ds.map(e => Row.fromSeq(ArrayCells.of(n, e, fill).toSeq))(Encoders.row(sch))
  }

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
    val (sch, fill) = Pipeline.fusedRow(cfg, Pipeline.maskSteps(cfg))
    val ds = Pipeline.prepare(spark, Synthetic.conftest(spark, nEvents), cfg)
    val expected = rowEncoderFrame(ds, sch)(fill)
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
    // meta and regions survive; every other feature cell is null, not NaN
    assert(rows.values.forall(r => r.take(4).forall(_ != null) && r.contains(null)))
    assert(rows.values.forall(!_.contains("NaN")))
  }

  test("per-branch extract equals the row-encoder frame") {
    val types = Seq("regions", "bbox", "shape", "raw", "intensity")
    val channels = this.channels // a local: the closure below must not capture the suite
    val sch = Features.schema(channels, types, "b")
    val lay = Features.layout(channels, types)
    val ds = Masking.branch(Synthetic.conftest(spark, 5), Masking.Spot(3), 0)
    val wide = Features.extract(ds, channels, types, "b")
    val expected = rowEncoderFrame(ds, sch) { (e, out) =>
      Features.metaCells(e, out)
      Features.featureCells(e, channels, lay, out, 4)
    }
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
      StructField("l", LongType), StructField("i", IntegerType), StructField("d", DoubleType),
      StructField("n", DoubleType)))
    val fill = (e: ImageEvent, out: WideCells) => {
      out.setLong(0, e.idx)
      // a later double write replaces an earlier one
      out.setDouble(5, 1.0)
      // field 4 of an even row gets no write at all, so it is null
      if (e.idx % 2 == 0) (1 to 3).foreach(out.setNull)
      else {
        out.setString(1, "Zellkern · 細胞 · ядро ✓")
        out.setLong(2, -e.idx)
        out.setInt(3, e.id)
        out.setDouble(4, -0.0)
      }
      out.setDouble(5, Double.NaN)
    }
    val ds = Synthetic.conftest(spark, 6)
    val wide = Features.wideFrame(ds, sch)(fill)
    val expected = rowEncoderFrame(ds, sch)(fill)
    assert(wide.schema == expected.schema)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
      case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.head.asInstanceOf[Long]).toSeq
    val got = rows(wide)
    assert(got == rows(expected))
    val (negZero, nan) = (java.lang.Double.doubleToRawLongBits(-0.0),
      java.lang.Double.doubleToRawLongBits(Double.NaN))
    assert(got.count(_.slice(1, 5).forall(_ == null)) == 3)
    assert(got.count(r => r(1) == "Zellkern · 細胞 · ядро ✓" && r(4) == negZero) == 3)
    assert(got.forall(_(5) == nan))
    val bad = intercept[UnsupportedOperationException] {
      Features.wideFrame(ds, StructType(Seq(StructField("f", FloatType))))((_, out) =>
        out.setDouble(0, 1.0)).collect()
    }
    assert(bad.getMessage.contains("wide row field f has type float"))
  }

  test("a write past the last field or of the wrong type fails the task") {
    val sch = StructType(Seq(StructField("d", DoubleType), StructField("s", StringType)))
    val ds = Synthetic.conftest(spark, 2)
    for ((write, what) <- Seq[((ImageEvent, WideCells) => Unit, String)](
        ((_, out) => out.setDouble(2, 1.0), "write to field 2; the row has 2 fields"),
        ((_, out) => out.setNull(-1), "write to field -1; the row has 2 fields"),
        ((_, out) => out.setLong(0, 1L), "write of a bigint to field 0, a double field"),
        ((_, out) => out.setDouble(1, 1.0), "write of a double to field 1, a string field"))) {
      val failed = intercept[org.apache.spark.SparkException](
        Features.wideFrame(ds, sch)(write).collect())
      val causes = Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage == s"wide row $what"), failed)
    }
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

  test("a zarr-shape export renders its plan compactly and logs no truncation warning") {
    // Spark logs the warning once per JVM, when it first cuts a plan
    // string at maxToStringFields, and records that in this flag
    val warned = {
      val f = Class.forName("org.apache.spark.util.SparkStringUtils$")
        .getDeclaredField("truncationWarningPrinted")
      f.setAccessible(true)
      f.get(null).asInstanceOf[java.util.concurrent.atomic.AtomicBoolean]
    }
    val wide = Pipeline.run(spark, Synthetic.conftest(spark, 4), referenceCfg)
    assert(wide.schema.length > 2700)
    val dir = java.nio.file.Files.createTempDirectory("wide-plan").toString
    val before = warned.getAndSet(false)
    try {
      graft.export.Export.parquetPartFiles(wide, dir, "features")
      val plan = wide.queryExecution.executedPlan.toString
      assert(plan.contains(s"WideRows[${wide.schema.length} fields: meta_path, …]"), plan)
      assert(plan.length < 2000, plan)
      assert(wide.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).length < 4000)
      assert(!warned.get())
    } finally warned.compareAndSet(false, before)
  }

  test("setup installs the strategy once") {
    val session = spark.newSession()
    WideRowsStrategy.setup(session)
    WideRowsStrategy.setup(session)
    assert(session.experimental.extraStrategies.count(_ == WideRowsStrategy) == 1)
  }
}
