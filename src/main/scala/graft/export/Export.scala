package graft.export

import graft.core.ImageEvent
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import java.nio.charset.StandardCharsets

/** Sinks — reference K1-K6 (SURVEY.md §2.1).
  *
  * K1 (parquet) is the built-in writer; K2 (AnnData `.h5ad`, one per
  * partition like the reference's side write, export/anndata.py:12-60)
  * is [[AnnData.export]] over the HDF5 writer in [[Hdf5]]; K3-K6 (the
  * extent CSVs, `.npy` masks, correction images and timing JSON) are
  * below.
  */
object Export {

  /** The session's hadoop configuration entries as a serializable
    * array, for executor-side FileSystem construction (credentials,
    * defaultFS — Configuration itself is not serializable; a fresh one
    * would silently drop s3a/hdfs settings). Shared by every sink that
    * writes from executors. */
  private[export] def hadoopConfEntries(
      spark: SparkSession): Array[(String, String)] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
    buf.toArray
  }

  /** Delete stale `{name}.{i}.{ext}` part files from a previous
    * (possibly larger) run: rename-onto-existing fails on HDFS, and
    * survivors with higher indices would be read alongside new files.
    * Shared by the parquet and h5ad part-file sinks. */
  private[export] def scrubStale(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, name: String, ext: String): Unit =
    if (fs.exists(dir)) {
      val stale = s"\\Q$name\\E\\.\\d+\\.\\Q$ext\\E".r
      fs.listStatus(dir)
        .filter(st => stale.pattern.matcher(st.getPath.getName).matches)
        .foreach(st => fs.delete(st.getPath, false))
    }

  /** The filesystem a sink writes `path` through: the one Hadoop
    * resolves, except that `file:` is written through the raw local
    * filesystem. The checksummed one Hadoop resolves for `file:` leaves
    * a `.{name}.crc` sidecar next to every file it writes, which the
    * reference does not write, and pays a CRC32 on every written byte.
    * Every sink, on the driver and on the executors, resolves its
    * filesystem here. */
  private[graft] def sinkFs(path: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(path.toUri, conf) match {
      case local: org.apache.hadoop.fs.LocalFileSystem => local.getRaw
      case other => other
    }

  /** Driver-side text write through the Hadoop FS layer, so the
    * destination may be any filesystem the session resolves (s3a,
    * hdfs, file) — a bare java.nio write would land the small CSV/JSON
    * artifacts on the driver's local disk while the big sinks go to
    * the cluster destination. */
  private[export] def writeText(spark: SparkSession, path: String,
      text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = sinkFs(p, spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** minimal CSV quoting, pandas to_csv QUOTE_MINIMAL: quote only
    * cells containing a delimiter/quote/newline, doubling quotes */
  private[export] def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** K1, the feature table → parquet (export/parquet.py:6-31), with
    * the reference's file naming: one `{filename}.{partition}.parquet`
    * per partition directly in the output directory
    * (export/parquet.py:24-27 name_function, no _metadata file). Spark
    * writes its part files to a scratch dir and the driver renames
    * them — same bytes, reference layout.
    *
    * Written without dictionary encoding: with it, every value pays a
    * hash-map put and lookup in parquet's dictionary writer (~8% of the
    * executor samples of a settled zarr run), while it saves few bytes
    * on the double feature columns. The trade is in the bytes, measured
    * on the zarr reference shape (4 part files): 160 events write
    * 6,104,364 bytes instead of 6,140,902 (-0.6%), 1,600 events
    * 26,114,890 instead of 25,499,175 (+2.4%); the larger the part
    * file, the more the dictionary would have saved.
    *
    * A `file:` destination is written and renamed through the raw local
    * filesystem ([[sinkFs]]); Spark's writer is pointed at it through
    * this write's own options, so the cached `file:` instance everyone
    * else gets stays checksummed.
    *
    * Parquet compresses each page through a codec stream that
    * allocates a buffer of `io.file.buffer.size` bytes, which Spark sets
    * to 64 KB: with ~2,700 feature columns that is a fresh 64 KB array
    * per page, most of the bytes the feature pass allocates. This write
    * sets it to 4 KB on its own options. Parquet opens its file stream
    * with a fixed 4 KB buffer, so the option sizes only the codec
    * stream, and the compressed bytes do not depend on it. */
  def parquetPartFiles(df: DataFrame, outputDir: String, filename: String,
      coalesce: Int = 0): Unit = {
    val scratch = new org.apache.hadoop.fs.Path(s"$outputDir/.${filename}_spark_tmp")
    val out = if (coalesce > 0) df.coalesce(coalesce) else df
    // Path(...).toUri escapes spaces etc.; a raw new URI(path) throws
    // URISyntaxException on them AFTER the parquet write succeeded
    val fs = sinkFs(scratch, df.sparkSession.sparkContext.hadoopConfiguration)
    val writer = fs match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem =>
        out.write.option("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
          .option("fs.file.impl.disable.cache", "true")
      case _ => out.write
    }
    writer.option("parquet.enable.dictionary", "false").option("io.file.buffer.size", "4096")
      .mode("overwrite").parquet(scratch.toString)
    val parts = fs.listStatus(scratch)
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    scrubStale(fs, new org.apache.hadoop.fs.Path(outputDir), filename, "parquet")
    parts.zipWithIndex.foreach { case (st, i) =>
      val target = new org.apache.hadoop.fs.Path(s"$outputDir/$filename.$i.parquet")
      require(fs.rename(st.getPath, target), s"rename ${st.getPath} -> $target failed")
    }
    fs.delete(scratch, true)
  }

  /** channel_boundaries.csv exactly as the reference writes it
    * (main.py:49-60): one row per group, wide `{channel}_min`/
    * `{channel}_max` columns, the group key as the unnamed index. */
  def channelBoundariesCsv(spark: SparkSession,
      minmax: Map[(String, Int), (Double, Double)],
      channelNames: Seq[String], path: String): Unit = {
    val header = "," + channelNames.flatMap(c =>
      Seq(csvCell(s"${c}_min"), csvCell(s"${c}_max"))).mkString(",")
    val groups = minmax.keys.map(_._1).toSeq.distinct.sorted
    val sb = new StringBuilder(header + "\n")
    groups.foreach { g =>
      val cells = channelNames.indices.flatMap { c =>
        val (lo, hi) = minmax.getOrElse((g, c), (Double.NaN, Double.NaN))
        Seq(lo.toString, hi.toString)
      }
      // group keys come from source metadata — a comma in one (e.g. a
      // CZI scene name) would shift every cell without quoting
      sb.append(csvCell(g) + "," + cells.mkString(",") + "\n")
    }
    writeText(spark, path, sb.toString)
  }

  /** K3: per-group per-channel min/max quantiles → one small CSV
    * written on the driver (main.py:49-60 — the only collect() in the
    * pipeline, ngroups×C rows by construction) */
  def quantilesCsv(spark: SparkSession,
      minmax: Map[(String, Int), (Double, Double)], path: String): Unit = {
    val sb = new StringBuilder("group,channel,min,max\n")
    minmax.toSeq.sortBy { case ((g, c), _) => (g, c) }.foreach {
      case ((g, c), (lo, hi)) => sb.append(s"${csvCell(g)},$c,$lo,$hi\n")
    }
    writeText(spark, path, sb.toString)
  }

  /** K4: side-effect export of labeled masks as .npy — a pass-through
    * side write inside mapPartitions, named by the joined group keys
    * EXACTLY like the reference ("_".join(event[k] for k in
    * group_keys), segmentation/__init__.py:61-65). The reference
    * contract assumes the group keys identify a FOV uniquely; like the
    * reference, events sharing the same group string overwrite one
    * file (last writer wins). Writes go through the Hadoop FS layer so
    * executors can resolve the destination on a real cluster (a bare
    * java.nio write would target executor-local disks). */
  def npyMasks(ds: Dataset[ImageEvent], dir: String): Dataset[ImageEvent] = {
    import graft.core.Codecs._
    val dirB = dir
    val hadoopEntries = hadoopConfEntries(ds.sparkSession)
    ds.mapPartitions { events =>
      lazy val fs = {
        val conf = new org.apache.hadoop.conf.Configuration()
        hadoopEntries.foreach { case (k, v) => conf.set(k, v) }
        val masksPath = new org.apache.hadoop.fs.Path(dirB, "masks")
        val f = sinkFs(masksPath, conf)
        f.mkdirs(masksPath)
        f
      }
      events.map { e =>
        if (e.hasMask) {
          val name = s"${e.group.replace('/', '_')}.npy"
          val out = fs.create(new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(dirB, "masks"), name), true)
          try out.write(npyIntBytes(e.mask, Seq(e.channels, e.height, e.width)))
          finally out.close()
        }
        e
      }
    }
  }

  /** minimal .npy v1.0 payload (int32, C order) */
  private[export] def npyIntBytes(data: Array[Int], shape: Seq[Int]): Array[Byte] = {
    val headerBody =
      s"{'descr': '<i4', 'fortran_order': False, 'shape': (${shape.mkString(", ")}${if (shape.length == 1) "," else ""}), }"
    // pad header so that magic(6)+ver(2)+len(2)+header is a multiple of 64
    val unpadded = 10 + headerBody.length + 1
    val pad = (64 - unpadded % 64) % 64
    val header = headerBody + " " * pad + "\n"
    val bb = java.nio.ByteBuffer.allocate(10 + header.length + data.length * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(0x93.toByte).put("NUMPY".getBytes(StandardCharsets.US_ASCII))
    bb.put(1.toByte).put(0.toByte)
    bb.putShort(header.length.toShort)
    bb.put(header.getBytes(StandardCharsets.US_ASCII))
    data.foreach(bb.putInt)
    bb.array()
  }

  /** K5: persist per-group correction images as a small keyed parquet
    * (jones_2006.py:102-107,122-128 pickle → parquet here); reload
    * with [[loadCorrectionImages]] for the `precomputed` path. */
  def saveCorrectionImages(spark: SparkSession,
      images: Map[String, Array[Float]], path: String): Unit = {
    import spark.implicits._
    images.toSeq.toDF("group", "correction").write.mode("overwrite").parquet(path)
  }

  def loadCorrectionImages(spark: SparkSession, path: String): Map[String, Array[Float]] =
    spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap

  /** K6: timing JSON `{**args, runtime}` (main.py:338,370-376) */
  def timingJson(spark: SparkSession, path: String,
      args: Map[String, String], runtimeSec: Double): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val fields = args.map { case (k, v) => s"${q(k)}: ${q(v)}" } ++
      Seq(s""""runtime": $runtimeSec""")
    writeText(spark, path, fields.mkString("{", ", ", "}"))
  }
}
