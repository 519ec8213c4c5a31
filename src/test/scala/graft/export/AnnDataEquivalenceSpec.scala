package graft.export

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.nio.ByteOrder
import java.nio.file.{Files, Paths}

/** [[AnnData.export]] reads the plan's `InternalRow`s; its parts must be
  * the bytes [[AnnDataReference]] writes from the same rows as `Row`s,
  * for every obs type and for the conversions whose representation
  * differs between the two: timestamps (micros inside, epoch millis
  * out), dates (days), decimals, booleans, null → NaN, and nullable int
  * columns promoted to float64. */
class AnnDataEquivalenceSpec extends SparkSpec {

  private val ts = Seq("1970-01-01 00:00:00.000999", "1969-12-31 23:59:59.998500",
    "2024-02-29 12:34:56.789123", "1500-03-01 00:00:00.0005", "9999-12-31 23:59:59.999999")
    .map(java.sql.Timestamp.valueOf)
  private val dates = Seq("1970-01-01", "1969-12-31", "2024-02-29", "1500-03-01", "9999-12-31")
    .map(java.sql.Date.valueOf)

  private val schema = StructType(Seq(
    StructField("meta_path", StringType), StructField("meta_str_null", StringType),
    StructField("meta_long", LongType, nullable = false), StructField("meta_long_null", LongType),
    StructField("meta_int", IntegerType), StructField("meta_int_null", IntegerType),
    StructField("meta_short", ShortType), StructField("meta_byte", ByteType),
    StructField("meta_bool", BooleanType), StructField("meta_bool_null", BooleanType),
    StructField("meta_ts", TimestampType), StructField("meta_ts_null", TimestampType),
    StructField("meta_date", DateType), StructField("meta_date_null", DateType),
    StructField("meta_dec", DecimalType(12, 3)), StructField("meta_double", DoubleType),
    StructField("meta_float", FloatType),
    StructField("feat_double", DoubleType), StructField("feat_float", FloatType),
    StructField("feat_long", LongType), StructField("feat_int", IntegerType),
    StructField("feat_dec", DecimalType(38, 10)), StructField("feat_bool", BooleanType),
    StructField("feat_ts", TimestampType), StructField("feat_date", DateType)))

  private def row(i: Int): Row = {
    def orNull[T](v: T): Any = if (i % 3 == 1) null else v
    Row(s"p$i/é", orNull(s"s$i"), Long.MaxValue - i, orNull(-7L * i),
      i * 1000003, orNull(i), (i - 2).toShort, (i * 50).toByte,
      i % 2 == 0, orNull(i % 2 == 1), ts(i % ts.length), orNull(ts((i + 1) % ts.length)),
      dates(i % dates.length), orNull(dates((i + 2) % dates.length)),
      new java.math.BigDecimal(s"${i * 37}.125"), Seq(Double.NaN, -0.0, 1e300, 0.1)(i % 4),
      Seq(Float.NaN, 1.5f, Float.MinPositiveValue)(i % 3),
      orNull(Seq(Double.NegativeInfinity, 2.5, Double.MinPositiveValue)(i % 3)),
      orNull(i * 0.25f), orNull((1L << 53) + i), i, orNull(new java.math.BigDecimal(s"-$i.0000000001")),
      orNull(i % 2 == 0), orNull(ts(i % ts.length)), dates((i + 3) % dates.length))
  }

  /** the reference's bytes of each partition, from `df.rdd`'s `Row`s */
  private def referenceParts(df: org.apache.spark.sql.DataFrame): Seq[Array[Byte]] =
    df.rdd.mapPartitions(it => Iterator.single(it.toArray)).collect().toSeq
      .map(AnnDataReference.partitionBytes(_, df.schema))

  private def written(dir: String, n: Int): Seq[Array[Byte]] =
    (0 until n).map(i => Files.readAllBytes(Paths.get(s"$dir/f.$i.h5ad")))

  test("every obs and X type: parts equal the Row reference byte for byte") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize((0 until 12).map(row), 3), schema)
    val dir = Files.createTempDirectory("anndata-eq").toString
    AnnData.export(df, dir, "f")
    val (got, want) = (written(dir, 3), referenceParts(df))
    assert(want.length == 3)
    for (((g, w), i) <- got.zip(want).zipWithIndex)
      assert(java.util.Arrays.equals(g, w), s"part $i differs from the Row reference")
  }

  test("empty partitions and a partition whose nullable columns hold no null") {
    // rows 0 and 2 only: every orNull column is set, so the int-like
    // nullable columns take the int64 path in that part
    val rows = Seq(row(0), row(2))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val dir = Files.createTempDirectory("anndata-eq-empty").toString
    AnnData.export(df, dir, "f")
    val (got, want) = (written(dir, 4), referenceParts(df))
    assert(want.length == 4 && want.count(_.nonEmpty) == 4)
    for (((g, w), i) <- got.zip(want).zipWithIndex)
      assert(java.util.Arrays.equals(g, w), s"part $i differs from the Row reference")
  }

  test("obs timestamps are epoch millis, dates epoch days, null int columns float64") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize((0 until 6).map(row), 1), schema)
    val dir = Files.createTempDirectory("anndata-eq-pins").toString
    AnnData.export(df, dir, "f")
    val obs = H5Read.read(s"$dir/f.0.h5ad").children("obs").children
    def longs(name: String) = {
      val bb = java.nio.ByteBuffer.wrap(obs(name).data).order(ByteOrder.LITTLE_ENDIAN)
      (0 until 6).map(i => bb.getLong(i * 8))
    }
    assert(obs("meta_ts").dtype == "int8")
    // floor to the millisecond, also before 1970
    assert(longs("meta_ts") == (0 until 6).map(i => ts(i % ts.length).getTime))
    assert(longs("meta_ts").take(2) == Seq(0L, -2L))
    assert(longs("meta_date").take(3) == Seq(0L, -1L, 19782L))
    assert(obs("meta_int_null").dtype == "float8" && obs("meta_ts_null").dtype == "float8")
    assert(obs("meta_int").dtype == "int8" && obs("meta_bool").dtype == "int8")
  }
}
