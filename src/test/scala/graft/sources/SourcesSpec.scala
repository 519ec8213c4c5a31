package graft.sources

import graft.SparkSpec
import java.awt.image.BufferedImage
import java.nio.file.{Files, Path}
import javax.imageio.ImageIO

class SourcesSpec extends SparkSpec {

  private def writeTiff(path: Path, w: Int, h: Int, base: Int): Unit = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
    val raster = img.getRaster
    for (r <- 0 until h; c <- 0 until w) raster.setSample(c, r, 0, base + r * w + c)
    assert(ImageIO.write(img, "TIFF", path.toFile), "JDK TIFF writer missing")
  }

  lazy val tiffDir: Path = {
    val dir = Files.createTempDirectory("graft-tiff")
    // 2 complete ids x 3 channels + 1 id with a missing channel
    for (id <- Seq("a", "b"); ch <- 0 until 3)
      writeTiff(dir.resolve(s"img_${id}_ch$ch.tif"), 8, 8, base = ch * 1000)
    writeTiff(dir.resolve("img_c_ch0.tif"), 8, 8, base = 0)
    dir
  }

  val regex = ".*img_(?<id>[a-z]+)_ch(?<channel>[0-9])\\.tif"

  test("tiff meta scan: pivot id x channel, missing-channel drop (F3)") {
    val meta = Tiff.metaFromDirectory(spark, tiffDir.toString, regex)
    assert(meta.columns.toSet == Set("id", "0", "1", "2", "meta", "path"))
    val rows = meta.collect()
    assert(rows.map(_.getAs[String]("id")).toSet == Set("a", "b")) // c dropped
    rows.foreach { r =>
      for (c <- Seq("0", "1", "2"))
        assert(r.getAs[String](c).endsWith(s"ch$c.tif"))
      // path = this directory's first sorted channel (tiff.py:156)
      assert(r.getAs[String]("path") == r.getAs[String]("0"))
    }
  }

  test("tiff pixel load: (C,H,W) float32 stack with decoded values") {
    val meta = Tiff.metaFromDirectory(spark, tiffDir.toString, regex)
    val events = Tiff.loadPixels(meta, Seq("0", "1", "2")).collect()
    assert(events.length == 2)
    events.foreach { e =>
      assert(e.channels == 3 && e.height == 8 && e.width == 8)
      // channel c pixel (r,cc) = c*1000 + r*8+cc
      for (c <- 0 until 3) {
        assert(e.pixels(c * 64) == c * 1000f)
        assert(e.pixels(c * 64 + 63) == c * 1000f + 63f)
      }
      assert(e.meta.contains("id"))
    }
  }

  test("multiframe tiff: frames become channels, group = parent dir") {
    val dir = Files.createTempDirectory("graft-mftiff")
    val f = dir.resolve("stack.tiff").toFile
    val writer = ImageIO.getImageWritersByFormatName("TIFF").next()
    val out = ImageIO.createImageOutputStream(f)
    writer.setOutput(out)
    writer.prepareWriteSequence(null)
    for (frame <- 0 until 4) {
      val img = new BufferedImage(6, 5, BufferedImage.TYPE_USHORT_GRAY)
      for (r <- 0 until 5; c <- 0 until 6) img.getRaster.setSample(c, r, 0, frame * 100 + r)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); out.close(); writer.dispose()

    val events = Tiff.loadMultiframeDirectory(spark, dir.toString).collect()
    assert(events.length == 1)
    val e = events.head
    assert(e.channels == 4 && e.height == 5 && e.width == 6)
    assert(e.group == dir.toString) // full parent path, like str(p.parent)
    for (c <- 0 until 4) assert(e.pixels(c * 30) == c * 100f)
  }

  // ---- zarr -------------------------------------------------------------

  /** write a (N, maxLen) <f4 zarr v2 array, zlib, with ragged shapes */
  def writeZarr(shapes: Seq[(Int, Int, Int)]): Path = {
    val dir = Files.createTempDirectory("graft-zarr")
    val maxLen = shapes.map { case (c, h, w) => c * h * w }.max
    val n = shapes.length
    val chunkRows = 2
    val zarray =
      s"""{"chunks":[$chunkRows,$maxLen],"compressor":{"id":"zlib","level":5},
         |"dtype":"<f4","fill_value":0,"filters":null,"order":"C",
         |"shape":[$n,$maxLen],"zarr_format":2}""".stripMargin
    Files.writeString(dir.resolve(".zarray"), zarray)
    val shapeJson = shapes.map { case (c, h, w) => s"[$c,$h,$w]" }.mkString(",")
    val objJson = shapes.indices.map(i => 1000 + i).mkString(",")
    Files.writeString(dir.resolve(".zattrs"),
      s"""{"object_number":[$objJson],"shape":[$shapeJson]}""")
    // chunks of 2 rows
    for (chunk <- 0 until (n + chunkRows - 1) / chunkRows) {
      val bb = java.nio.ByteBuffer.allocate(chunkRows * maxLen * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until chunkRows) {
        val gi = chunk * chunkRows + r
        for (j <- 0 until maxLen) {
          val v = if (gi < n && j < shapes(gi)._1 * shapes(gi)._2 * shapes(gi)._3)
            (gi * 10000 + j).toFloat else 0f
          bb.putFloat(v)
        }
      }
      val deflater = new java.util.zip.Deflater(5)
      deflater.setInput(bb.array()); deflater.finish()
      val outBuf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](65536)
      while (!deflater.finished()) outBuf.write(tmp, 0, deflater.deflate(tmp))
      Files.write(dir.resolve(s"$chunk.0"), outBuf.toByteArray)
    }
    dir
  }

  test("zarr: meta scan + ragged pixel load + channel slice") {
    val dir = writeZarr(Seq((2, 4, 5), (2, 3, 3), (2, 5, 5), (2, 2, 4)))
    val meta = Zarr.metaFromDirectory(spark, dir.toString)
    assert(meta.count() == 4)
    assert(meta.columns.toSet == Set("path", "zarr_idx", "object_number", "meta"))
    val events = Zarr.loadPixels(meta).collect().sortBy(_.meta("zarr_idx").toInt)
    assert(events.map(e => (e.channels, e.height, e.width)).toSeq ==
      Seq((2, 4, 5), (2, 3, 3), (2, 5, 5), (2, 2, 4)))
    // ragged row values: event i pixel j = i*10000 + j
    assert(events(1).pixels(0) == 10000f)
    assert(events(3).pixels(5) == 30005f)
    assert(events.map(_.idx).toSeq == Seq(1000L, 1001L, 1002L, 1003L))
  }

  test("zarr: absent chunk files read as fill_value (write_empty_chunks=False)") {
    val dir = writeZarr(Seq((2, 2, 2), (2, 2, 2), (2, 2, 2), (2, 2, 2)))
    // delete the second chunk file: zarr v2 says it IS a fill chunk
    Files.delete(dir.resolve("1.0"))
    val meta = Zarr.metaFromDirectory(spark, dir.toString)
    val events = Zarr.loadPixels(meta).collect().sortBy(_.meta("zarr_idx").toInt)
    assert(events.length == 4)
    assert(events(0).pixels(1) == 1f) // stored chunk intact
    assert(events(2).pixels.forall(_ == 0f)) // fill chunk
    assert(events(3).pixels.forall(_ == 0f))
  }

  test("zarr: a zlib chunk that inflates to the wrong size names the chunk") {
    val dir = writeZarr(Seq((2, 2, 2), (2, 2, 2)))
    val m = Zarr.readMeta(dir.toString)
    def deflate(n: Int): Array[Byte] = {
      val d = new java.util.zip.Deflater(5)
      d.setInput(new Array[Byte](n)); d.finish()
      val buf = new Array[Byte](n + 64)
      val len = d.deflate(buf); d.end()
      buf.take(len)
    }
    // the chunk holds 2 rows of 8 <f4 = 64 bytes
    for ((n, what) <- Seq(65 -> "past the 64-byte chunk", 63 -> "63 of 64 bytes",
        (1 << 20) -> "past the 64-byte chunk")) {
      Files.write(dir.resolve("0.0"), deflate(n))
      val ex = intercept[java.io.IOException](Zarr.readRow(dir.toString, m, 0))
      assert(ex.getMessage.contains(s"zarr chunk 0.0 in $dir") && ex.getMessage.contains(what),
        ex.getMessage)
    }
    Files.write(dir.resolve("0.0"), deflate(64).dropRight(4))
    assert(intercept[java.io.IOException](Zarr.readRow(dir.toString, m, 0))
      .getMessage.contains("truncated"))
    Files.write(dir.resolve("0.0"), deflate(64))
    assert(Zarr.readRow(dir.toString, m, 0).forall(_ == 0f))
  }

  test("zarr: unknown filters and out-of-range channels fail loudly") {
    val dir = writeZarr(Seq((2, 2, 2)))
    // out-of-range channel: numpy raises IndexError; we must not hand
    // back zero padding as a "channel"
    val meta = Zarr.metaFromDirectory(spark, dir.toString)
    val ex = intercept[org.apache.spark.SparkException] {
      Zarr.loadPixels(meta, Seq(0, 2)).collect()
    }
    assert(ex.getCause != null || ex.getMessage.contains("channel"))
    // unknown filter: decoding without applying it would corrupt values
    val za = Files.readString(dir.resolve(".zarray"))
      .replace("\"filters\":null", "\"filters\":[{\"id\":\"delta\",\"dtype\":\"<f4\"}]")
    Files.writeString(dir.resolve(".zarray"), za)
    val ex2 = intercept[IllegalArgumentException] {
      Zarr.readMeta(dir.toString)
    }
    assert(ex2.getMessage.contains("filters"))
  }

  test("zarr: channel selection and reload-after-tombstone (S7)") {
    import spark.implicits._
    import graft.core.Codecs._
    val dir = writeZarr(Seq((3, 2, 2), (3, 2, 2)))
    val meta = Zarr.metaFromDirectory(spark, dir.toString)
    val events = Zarr.loadPixels(meta, Seq(1)).collect()
    assert(events.forall(e => e.channels == 1 && e.pixels.length == 4))
    assert(events.sortBy(_.meta("zarr_idx").toInt).head.pixels(0) == 4f) // ch1 starts at offset 4

    // S7: drop pixels, keep a mask marker, reload only masked records
    val ds = Zarr.loadPixels(meta, Seq(0, 1))
      .map(e => if (e.meta("zarr_idx") == "0") e.copy(pixels = null, mask = new Array[Int](e.channels * e.planeSize))
                else e.copy(pixels = null))
    val reloaded = Zarr.reloadPixels(ds, Seq(0, 1)).collect()
    assert(reloaded.count(_.hasPixels) == 1)
    assert(reloaded.find(_.hasPixels).get.meta("zarr_idx") == "0")
  }
}
