package graft.export

import graft.SparkSpec
import java.nio.file.Files

class ExportSpec extends SparkSpec {

  test("re-export removes stale higher-index part files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("export-stale").toString
    // first run: 3 part files
    Export.parquetPartFiles((0 until 30).toDF("v").repartition(3), dir, "features")
    def listed() = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.matches("features\\.\\d+\\.parquet")).sorted.toSeq
    assert(listed() == Seq("features.0.parquet", "features.1.parquet", "features.2.parquet"))
    // second, smaller run into the same dir: stale .2 must be gone and
    // the surviving files must hold ONLY the new data
    Export.parquetPartFiles((100 until 110).toDF("v").repartition(2), dir, "features")
    assert(listed() == Seq("features.0.parquet", "features.1.parquet"))
    val vals = spark.read.parquet(s"$dir/features.0.parquet", s"$dir/features.1.parquet")
      .as[Int].collect().sorted.toSeq
    assert(vals == (100 until 110).toSeq)
  }

  test("files for a different filename stem are untouched") {
    import spark.implicits._
    val dir = Files.createTempDirectory("export-other").toString
    Export.parquetPartFiles((0 until 4).toDF("v").coalesce(1), dir, "other")
    Export.parquetPartFiles((0 until 4).toDF("v").coalesce(1), dir, "features")
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains("other.0.parquet") && names.contains("features.0.parquet"))
  }

  test("part files carry no dictionary; doubles read back bit for bit") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("export-nodict").toString
    // repeats dictionary-encode well: the parquet default writes them
    // through a dictionary page
    val values: Seq[java.lang.Double] = Seq(Double.NaN, -0.0, 0.0, null, 1.5, 1.5, 1.5,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue, 1.5, null)
      .map(v => v.asInstanceOf[java.lang.Double])
    val rows = (0 until 240).map(i => Row(i.toLong, s"k${i % 3}", values(i % values.length),
      (i % 4).toDouble))
    val schema = StructType(Seq(StructField("id", LongType), StructField("key", StringType),
      StructField("v", DoubleType), StructField("repeat", DoubleType)))
    Export.parquetPartFiles(spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema),
      dir, "features")
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length == 3)
    val conf = spark.sparkContext.hadoopConfiguration
    for (f <- parts) {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toString), conf))
      try for (block <- reader.getFooter.getBlocks.asScala; col <- block.getColumns.asScala) {
        val what = s"${f.getName} ${col.getPath}"
        assert(!col.hasDictionaryPage, what)
        assert(!col.getEncodings.asScala.exists(_.name.endsWith("_DICTIONARY")),
          s"$what: ${col.getEncodings}")
      } finally reader.close()
    }
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case other => other
    }
    val back = spark.read.parquet(parts.map(_.toString): _*).collect()
      .map(r => (r.getLong(0), (0 until 4).map(i => bits(r.get(i))))).sortBy(_._1).map(_._2).toSeq
    assert(back == rows.map(r => (0 until 4).map(i => bits(r.get(i)))))
  }

  test("a local destination holds no checksum sidecar") {
    import spark.implicits._
    val dir = Files.createTempDirectory("export-nocrc").toString
    Export.parquetPartFiles((0 until 30).toDF("v").repartition(3), dir, "features")
    val names = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(names == Seq("features.0.parquet", "features.1.parquet", "features.2.parquet"))
    assert(!names.exists(_.endsWith(".crc")), names)
    assert(spark.read.parquet(s"$dir/features.*.parquet").as[Int].collect().sorted.toSeq ==
      (0 until 30))
  }

  test("parts written with a 4 KB and a 64 KB codec buffer decode alike, same chunk sizes") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // pages far larger than either buffer: noise barely compresses,
    // repeats compress well, and nulls leave short pages
    val rng = new scala.util.Random(31)
    val rows = (0 until 30000).map(i => Row(i.toLong, rng.nextGaussian(), (i % 7).toDouble,
      if (i % 5 == 0) null else java.lang.Double.valueOf(rng.nextDouble())))
    val schema = StructType(Seq(StructField("id", LongType), StructField("noise", DoubleType),
      StructField("repeat", DoubleType), StructField("sparse", DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val small = Files.createTempDirectory("export-4k").toString
    Export.parquetPartFiles(df, small, "features")
    val large = Files.createTempDirectory("export-64k").toString
    df.write.option("parquet.enable.dictionary", "false").option("io.file.buffer.size", "65536")
      .mode("overwrite").parquet(large)
    def parts(dir: String, prefix: String) = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(prefix) && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    val (a, b) = (parts(small, "features."), parts(large, "part-"))
    assert(a.length == 2 && b.length == 2, (a, b))
    val conf = spark.sparkContext.hadoopConfiguration
    def chunkSizes(f: java.io.File): Seq[(String, Long, Long)] = {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toString), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(col =>
        (col.getPath.toDotString, col.getTotalSize, col.getTotalUncompressedSize)))
      finally reader.close()
    }
    for ((x, y) <- a.zip(b)) {
      val (sx, sy) = (chunkSizes(x), chunkSizes(y))
      assert(sx == sy, s"${x.getName} vs ${y.getName}")
      // more than one 4 KB buffer's worth per chunk
      assert(sx.exists(_._2 > 65536), sx)
    }
    def cells(files: Seq[java.io.File]) = spark.read.parquet(files.map(_.toString): _*).collect()
      .map(r => (0 until 4).map(i => r.get(i) match {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case other => other
      })).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(cells(a) == cells(b))
  }

  /** double, bigint, int and string columns with nulls, over `parts` partitions */
  private def mixed(n: Int, parts: Int) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(7)
    val rows = (0 until n).map { i =>
      def orNull(v: Any) = if (i % 7 == 3) null else v
      Row(orNull(rng.nextGaussian()), i.toLong, orNull(i % 11), orNull(s"k${i % 13}"))
    }
    val schema = StructType(Seq(StructField("feat_v", DoubleType),
      StructField("meta_id", LongType, nullable = false), StructField("meta_n", IntegerType),
      StructField("meta_path", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }

  private def footer(f: java.io.File) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toString), spark.sparkContext.hadoopConfiguration))
    try reader.getFooter finally reader.close()
  }

  private def parquetParts(dir: String, prefix: String) = new java.io.File(dir).listFiles()
    .filter(f => f.getName.startsWith(prefix) && f.getName.endsWith(".parquet"))
    .sortBy(_.getName).toSeq

  test("no part footer holds Spark's row-metadata schema JSON") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("export-footer").toString
    Export.parquetPartFiles(mixed(300, 3), dir, "features")
    val parts = parquetParts(dir, "features.")
    assert(parts.length == 3)
    for (f <- parts) {
      val keys = footer(f).getFileMetaData.getKeyValueMetaData.asScala.keySet
      assert(!keys.contains("org.apache.spark.sql.parquet.row.metadata"), s"${f.getName}: $keys")
      assert(keys == Set("org.apache.spark.version"), s"${f.getName}: $keys")
    }
  }

  test("parts read back with the written names, types and empty field metadata") {
    val df = mixed(300, 3)
    val (ours, sparks) = (Files.createTempDirectory("export-schema-ours").toString,
      Files.createTempDirectory("export-schema-spark").toString)
    Export.parquetPartFiles(df, ours, "features")
    df.write.mode("overwrite").parquet(sparks)
    val back = spark.read.parquet(parquetParts(ours, "features.").map(_.toString): _*)
    assert(back.schema.fields.map(f => (f.name, f.dataType, f.metadata)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType, f.metadata)).toSeq)
    assert(back.schema.forall(_.metadata.json == "{}"))
    // Spark's own parts read back all nullable too: the same schema
    assert(back.schema == spark.read.parquet(sparks).schema)
    def cells(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).sortBy(_(1).asInstanceOf[Long]).toSeq
    assert(cells(back) == cells(df))
  }

  test("column chunks equal df.write.parquet's: sizes, value counts, statistics") {
    import scala.jdk.CollectionConverters._
    val df = mixed(30000, 3)
    val (ours, sparks) = (Files.createTempDirectory("export-chunks-ours").toString,
      Files.createTempDirectory("export-chunks-spark").toString)
    Export.parquetPartFiles(df, ours, "features")
    df.write.option("parquet.enable.dictionary", "false").option("io.file.buffer.size", "4096")
      .mode("overwrite").parquet(sparks)
    val (a, b) = (parquetParts(ours, "features."), parquetParts(sparks, "part-"))
    assert(a.length == 3 && b.length == 3, (a, b))
    def chunks(f: java.io.File) = footer(f).getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(c =>
      (c.getPath.toDotString, c.getStartingPos, c.getTotalSize, c.getTotalUncompressedSize,
        c.getValueCount, c.getStatistics, c.getEncodings.asScala.toSet, c.getCodec)))
    for ((x, y) <- a.zip(b)) {
      val (cx, cy) = (chunks(x), chunks(y))
      assert(cx.length == 4 && cx == cy, s"${x.getName} vs ${y.getName}")
      assert(footer(x).getFileMetaData.getSchema == footer(y).getFileMetaData.getSchema)
    }
  }

  test("an empty partition writes a 0-row part named by its partition id") {
    val df = mixed(2, 4)
    val dir = Files.createTempDirectory("export-empty").toString
    Export.parquetPartFiles(df, dir, "features")
    val parts = parquetParts(dir, "features.")
    assert(parts.map(_.getName) == (0 until 4).map(i => s"features.$i.parquet"))
    val sizes = df.rdd.mapPartitions(it => Iterator.single(it.size)).collect().toSeq
    assert(sizes.count(_ == 0) == 2, sizes)
    for ((f, n) <- parts.zip(sizes)) {
      val back = spark.read.parquet(f.toString)
      assert(back.count() == n, f.getName)
      assert(back.schema.map(_.name) == df.schema.map(_.name))
    }
  }

  test("a field of another type fails on the driver, before any part is scrubbed or written") {
    import spark.implicits._
    val dir = Files.createTempDirectory("export-type").toString
    Export.parquetPartFiles((0 until 4).toDF("v").repartition(2), dir, "features")
    val before = new java.io.File(dir).listFiles().map(f => (f.getName, f.lastModified)).toSet
    val df = (0 until 4).map(i => (i.toDouble, i % 2 == 0)).toDF("d", "flag").repartition(3)
    // thrown as it is, not as the cause of a failed job's SparkException
    val bad = intercept[UnsupportedOperationException](Export.parquetPartFiles(df, dir, "features"))
    assert(bad.getMessage.contains("field flag has type boolean"), bad.getMessage)
    // the earlier parts are neither scrubbed nor overwritten
    assert(new java.io.File(dir).listFiles().map(f => (f.getName, f.lastModified)).toSet == before)
  }
}
