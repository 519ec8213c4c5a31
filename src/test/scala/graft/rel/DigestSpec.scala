package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Edge cases of the p-query digest fold: null vs NaN vs -0.0, column
  * renames, and value drift must all flip (or preserve) the row digest
  * exactly as intended — this is what makes the committed goldens a
  * real value gate. */
class DigestSpec extends SparkSpec {

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
    val frame = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), wide)
    val viaRows = Digest.rows(frame, keys).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getString(3), r.getString(4))).toMap
    val (schemaDigest, digestFn) = Digest.fusedDigester(wide)
    val fused = frame.collect().map { r =>
      val cells = r.toSeq.toArray[Any]
      def key(i: Int) = Option(cells(i)).map(_.toString).orNull
      (key(0), key(1), key(3)) -> (digestFn(cells), schemaDigest)
    }.toMap
    assert(viaRows.size == rows.length)
    assert(fused == viaRows)
  }
}
