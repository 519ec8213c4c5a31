package graft.rel

import graft.SparkSpec
import graft.core.Synthetic
import graft.ops.Features
import graft.plans.{WideRowsExec, WideRowsPlan}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Edge cases of the p-query digest fold: null vs NaN vs -0.0, column
  * renames, and value drift must all flip (or preserve) the row digest
  * exactly as intended — this is what makes the committed goldens a
  * real value gate. A wide-row frame is digested inside its plan node,
  * any other by projection; the two must give the same table. */
class DigestSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("a", DoubleType),
    StructField("b", DoubleType)))

  private def df(rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def digestOf(rows: Seq[Row]): Seq[(String, String)] =
    Digest.rows(df(rows), Seq("k")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq

  test("null, NaN, and numeric values digest distinctly") {
    val base = digestOf(Seq(Row("r", 1.0, 2.0)))
    val withNull = digestOf(Seq(Row("r", null, 2.0)))
    val withNaN = digestOf(Seq(Row("r", Double.NaN, 2.0)))
    assert(Set(base, withNull, withNaN).size == 3)
  }

  test("-0.0 canonicalizes to 0.0 (reduce-order sign-of-zero noise)") {
    assert(digestOf(Seq(Row("r", -0.0, 2.0))) == digestOf(Seq(Row("r", 0.0, 2.0))))
  }

  test("sub-ULP noise is absorbed; 6th-significant-digit drift flips the digest") {
    val v = 1.2345678901234
    assert(digestOf(Seq(Row("r", v, 2.0))) == digestOf(Seq(Row("r", v + 1e-13, 2.0))))
    assert(digestOf(Seq(Row("r", v, 2.0))) != digestOf(Seq(Row("r", v + 1e-3, 2.0))))
  }

  test("a renamed column flips both row and schema digests") {
    val renamed = StructType(Seq(
      StructField("k", StringType), StructField("a2", DoubleType),
      StructField("b", DoubleType)))
    val d1 = Digest.rows(df(Seq(Row("r", 1.0, 2.0))), Seq("k")).collect().head
    val d2 = Digest.rows(
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("r", 1.0, 2.0)), 1), renamed),
      Seq("k")).collect().head
    assert(d1.getString(1) != d2.getString(1)) // row digest
    assert(d1.getString(2) != d2.getString(2)) // schema digest
  }

  test("digest is partitioning-invariant") {
    val rows = (0 until 50).map(i => Row(s"k$i", i * 0.3333333333, i / 7.0))
    val one = Digest.rows(df(rows).coalesce(1), Seq("k")).collect().toSeq
    val many = Digest.rows(df(rows).repartition(13), Seq("k")).collect().toSeq
    assert(one == many)
  }

  test("fusedDigester equals Digest.rows on one wide frame") {
    // the same cells as a wide-row frame (digested inside its plan
    // node) and as a plain frame (digested by the projection)
    val wide = StructType(Seq(
      StructField("meta_path", StringType), StructField("meta_idx", LongType),
      StructField("meta_group", StringType), StructField("meta_id", IntegerType),
      StructField("feat_b", DoubleType), StructField("feat_a", DoubleType),
      StructField("feat_c", DoubleType)))
    val rows = Seq(
      Row("p/x.zarr", 0L, "g1", 1, 1.5, -0.0, 1e-300),
      Row("p/x.zarr", 1L, null, 2, null, Double.NaN, -2.25e7),
      Row("p/ü|y=z", Long.MaxValue, "g|2", -3, 0.0, 1.0 / 3, null),
      Row(null, -7L, "", Int.MinValue, Double.NaN, null, -0.0))
    val keys = Seq("meta_path", "meta_idx", "meta_id")
    val plain = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), wide)
    val wideRows = Features.wideFrame(Synthetic.conftest(spark, rows.length), wide) { (e, out) =>
      val r = rows(e.idx.toInt)
      for (i <- 0 until r.length) r.get(i) match {
        case null => out.setNull(i)
        case s: String => out.setString(i, s)
        case l: Long => out.setLong(i, l)
        case n: Int => out.setInt(i, n)
        case d: Double => out.setDouble(i, d)
      }
    }
    val fused = Digest.rows(wideRows, keys)
    val projected = Digest.rows(plain, keys)
    assert(wideExecs(fused) == 1 && wideExecs(projected) == 0)
    assert(fused.columns.toSeq == projected.columns.toSeq)
    val got = fused.collect().toSeq
    assert(got.length == rows.length)
    assert(got == projected.collect().toSeq)
  }

  private def wideExecs(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case w: WideRowsExec => w }.length

  // every digestable whose frame is one wide-row plan node (p07 is
  // p01's shape or the reference fixture's, p15 a parquet read-back)
  for (name <- Seq("p01_pipeline_e2e", "p02_segment_cells", "p03_full_stack",
      "p05_sources_roundtrip", "p06_segment_cellpose")) {
    test(s"$name: the wide-row digest equals the projection's") {
      val fn = PipelineQueries.digestables.toMap.apply(name)
      val frame = fn(spark, sfDir)
      assert(frame.queryExecution.analyzed.isInstanceOf[WideRowsPlan])
      val keys = PipelineQueries.DigestKeys
      val fused = Digest.rows(frame, keys)
      // a projection over the node: Digest.rows takes the Catalyst path
      val projected = Digest.rows(frame.select(frame.columns.map(c => col(s"`$c`")): _*), keys)
      assert(wideExecs(fused) == 1 && wideExecs(projected) == 1)
      val (a, b) = (fused.collect().toSeq, projected.collect().toSeq)
      assert(a.nonEmpty && a == b)
      val schemaDigests = a.map(_.getString(keys.length + 1)).distinct
      assert(schemaDigests.length == 1 &&
        schemaDigests == b.map(_.getString(keys.length + 1)).distinct)
      spark.catalog.clearCache()
    }
  }
}
