package graft.sources

import graft.core.{Codecs, ImageEvent}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import java.nio.file.{Files, Path, Paths}
import javax.imageio.ImageIO
import scala.jdk.CollectionConverters._

/** TIFF sources — reference S2/S3 (loading/tiff.py:126-170) and S4
  * (loading/multiframe_tiff.py:27-78). Decoding uses the JDK 9+
  * built-in javax.imageio TIFF plugin inside `mapPartitions` — one
  * decode task per partition of file paths, so scan parallelism comes
  * from the path list, not driver memory.
  *
  * The metadata scan mirrors the reference exactly: glob `*.tif*`,
  * regex named groups, pivot id×channel→path, drop events missing any
  * channel file (F3), remaining meta joined per id.
  */
object Tiff {

  /** named groups of a Java regex (the loader-meta schema synthesis,
    * S9: loading/zarr.py:73-82) */
  def namedGroups(regex: String): Seq[String] =
    "\\(\\?<([a-zA-Z][a-zA-Z0-9]*)>".r.findAllMatchIn(regex).map(_.group(1)).toSeq

  /** S2: directory scan → one row per event id with one path column
    * per channel plus regex-extracted meta columns. Listing happens on
    * the driver (same as the reference's glob); the returned DataFrame
    * is immediately repartitionable for scan parallelism. */
  def metaFromDirectory(spark: SparkSession, dir: String, regex: String): DataFrame = {
    val groups = namedGroups(regex)
    require(groups.contains("id") && groups.contains("channel"),
      "tiff scan regex needs (?<id>...) and (?<channel>...) groups")
    val pattern = regex.r
    val files = listFiles(Paths.get(dir), ".tif")
    val rows = files.flatMap { p =>
      pattern.findFirstMatchIn(p.toString).map { m =>
        (p.toString, groups.map(g => g -> m.group(g)).toMap)
      }
    }
    // the file list is a driver-local Seq the lines above just built —
    // grouping/pivoting it through Spark cost three jobs and a shuffle
    // per directory for zero parallelism; the distributed work starts
    // at pixel LOAD, not at metadata bookkeeping
    val channels = rows.map(_._2("channel")).distinct.sorted
    // pandas pivot raises ValueError on duplicate (id, channel) index
    // entries (tiff.py:145) — an unordered pick would silently load
    // DIFFERENT pixel data across reruns, so fail the same way
    val dups = rows.groupBy(r => (r._2("id"), r._2("channel")))
      .filter(_._2.length > 1).keys.toSeq.sorted
    require(dups.isEmpty,
      s"duplicate (id, channel) tiff files for: ${dups.take(5).mkString(", ")} — " +
        "the reference's pandas pivot rejects this layout (Index contains duplicate entries)")
    val perId = rows.groupBy(_._2("id")).toSeq.sortBy(_._1).flatMap {
      case (id, rs) =>
        val chPath = rs.map(r => r._2("channel") -> r._1).toMap
        if (channels.forall(chPath.contains)) {
          // deterministic meta per id: the lexicographically-first
          // file's regex groups win
          val meta = rs.minBy(_._1)._2 - "id" - "channel"
          // the event's `path` is THIS directory's first sorted
          // channel file (tiff.py:156: df["path"] = df.iloc[:, 0]) —
          // resolved here, where the directory's own channel set is
          // known; resolving it later from a union'd ragged schema
          // picked another directory's first column
          Some(org.apache.spark.sql.Row.fromSeq(
            (id +: channels.map(chPath)) ++ Seq(meta, chPath(channels.head))))
        } else None // F3: drop events with missing channel files
    }
    val schema = org.apache.spark.sql.types.StructType(
      (org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType) +:
        channels.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType))) ++ Seq(
        org.apache.spark.sql.types.StructField("meta",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)),
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(perId, math.max(1, perId.length min 32)),
      schema)
  }

  private[sources] def listFiles(dir: Path, ext: String): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.contains(ext)).toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** one BufferedImage raster band → float32 plane (shared by the
    * single-page and multiframe decoders — one copy to fix) */
  private def rasterToPlane(img: java.awt.image.BufferedImage): (Array[Float], Int, Int) = {
    val h = img.getHeight; val w = img.getWidth
    val out = new Array[Float](h * w)
    val raster = img.getRaster
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) { out(r * w + c) = raster.getSampleFloat(c, r, 0); c += 1 }
      r += 1
    }
    (out, h, w)
  }

  /** decode one grayscale TIFF page to float32 */
  private[sources] def decodePlane(path: String): (Array[Float], Int, Int) = {
    val img = ImageIO.read(new java.io.File(path))
    require(img != null, s"not a decodable image: $path")
    rasterToPlane(img)
  }

  /** S3: one file per channel, stacked to (C,H,W) float32
    * (loading/tiff.py:161-170) */
  def loadPixels(meta: DataFrame, channels: Seq[String]): Dataset[ImageEvent] = {
    import Codecs._
    val fields = meta.schema.fieldNames
    val idIdx = fields.indexOf("id")
    val metaIdx = fields.indexOf("meta")
    val chFieldIdx = channels.map(c => fields.indexOf(c))
    // fail on the driver naming the channel, not in an executor with
    // an opaque index -1 error after task retries
    channels.zip(chFieldIdx).foreach { case (c, i) =>
      require(i >= 0, s"channel '$c' not in the scanned metadata " +
        s"(have: ${fields.filterNot(Set("id", "meta")).mkString(", ")})")
    }
    // the event's `path` is resolved at SCAN time per directory
    // (tiff.py:156: df["path"] = df.iloc[:, 0] — that directory's
    // first sorted channel), so ragged multi-directory unions keep
    // each row's own directory semantics
    val pathIdx = fields.indexOf("path")
    require(pathIdx >= 0, "tiff metadata frame lacks the scan-time 'path' column")
    meta.mapPartitions { rows =>
      rows.map { row =>
        val planes = chFieldIdx.map(i => decodePlane(row.getString(i)))
        val (h, w) = (planes.head._2, planes.head._3)
        require(planes.forall(p => p._2 == h && p._3 == w),
          "channel files must share dimensions")
        val px = new Array[Float](channels.length * h * w)
        planes.zipWithIndex.foreach { case ((p, _, _), c) =>
          System.arraycopy(p, 0, px, c * h * w, h * w)
        }
        val metaMap = row.getMap[String, String](metaIdx).toMap
        ImageEvent.fromPixels(
          path = row.getString(pathIdx),
          idx = row.getString(idIdx).hashCode.toLong & 0xffffffffL,
          group = metaMap.getOrElse("group", "all"),
          meta = metaMap + ("id" -> row.getString(idIdx)),
          channels = channels.length, height = h, width = w, pixels = px)
      }
    }
  }

  /** S4: multiframe TIFF — every page is a channel
    * (loading/multiframe_tiff.py:27-50). Listing follows the
    * reference's recursive glob over "*.tiff" at every depth (exact
    * .tiff suffix, multiframe_tiff.py:68) and group is
    * the FULL parent path (`str(p.parent)`, :69) — the grouping key
    * of illumination/normalization, so a basename-only group would
    * merge sibling plates. */
  def loadMultiframeDirectory(spark: SparkSession, dir: String,
      channels: Seq[Int] = null): Dataset[ImageEvent] = {
    import spark.implicits._
    import Codecs._
    val files = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val walk = java.nio.file.Files.walk(Paths.get(dir))
      try walk.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".tiff")) buf += p.toString
      } finally walk.close() // walk holds open directory descriptors
      buf.sorted.toSeq
    }
    spark.createDataset(files).mapPartitions { paths =>
      paths.map { p =>
        val (px, c, h, w) = decodeMultiframe(p, channels)
        ImageEvent.fromPixels(
          path = p, idx = p.hashCode.toLong & 0xffffffffL,
          group = Paths.get(p).getParent.toString,
          meta = Map.empty, channels = c, height = h, width = w, pixels = px)
      }
    }
  }

  private[sources] def decodeMultiframe(path: String,
      channels: Seq[Int]): (Array[Float], Int, Int, Int) = {
    val in = ImageIO.createImageInputStream(new java.io.File(path))
    try {
      val readers = ImageIO.getImageReaders(in)
      require(readers.hasNext, s"no reader for $path")
      val reader = readers.next()
      reader.setInput(in)
      val n = reader.getNumImages(true)
      val wanted = if (channels == null) 0 until n else channels
      val planes = wanted.map(i => rasterToPlane(reader.read(i)))
      reader.dispose()
      val (h, w) = (planes.head._2, planes.head._3)
      // pyramidal/multi-resolution files violate the pages-are-channels
      // contract: without this a smaller later page either crashes the
      // arraycopy or silently garbles channel data with the wrong
      // stride (the reference's numpy stack raises on ragged pages)
      require(planes.forall(p => p._2 == h && p._3 == w),
        s"multiframe pages of $path must share dimensions " +
          s"(got ${planes.map(p => s"${p._2}x${p._3}").distinct.mkString(", ")})")
      val px = new Array[Float](planes.length * h * w)
      planes.zipWithIndex.foreach { case ((p, _, _), c) =>
        System.arraycopy(p, 0, px, c * h * w, h * w)
      }
      (px, planes.length, h, w)
    } finally in.close()
  }

  /** S1: union of per-path sources (loading/__init__.py:29-44).
    * allowMissingColumns mirrors the reference's pandas concat: a
    * directory missing some channel's files yields null cells there,
    * which the F3 na.drop in the pivot already handles — a strict
    * union would AnalysisException on the first ragged directory. */
  def loadMeta(spark: SparkSession, dirs: Seq[String], regex: String): DataFrame = {
    require(dirs.nonEmpty, "tiff load needs at least one path")
    dirs.map(metaFromDirectory(spark, _, regex))
      .reduceLeft(_.unionByName(_, allowMissingColumns = true))
  }
}
