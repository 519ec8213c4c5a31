package graft.sources

import graft.SparkSpec
import java.nio.file.Files

/** CZI (ZISRAW) source — S8: segment parser roundtrip, scene
  * filtering, regex meta extraction, Z stacks, channel selection. */
class CziSpec extends SparkSpec {

  private def pixel(s: Int, t: Int, c: Int, z: Int, r: Int, col: Int): Float =
    (s * 100000 + t * 10000 + c * 1000 + z * 100 + r * 10 + col).toFloat

  private lazy val fixture: String = {
    val dir = Files.createTempDirectory("czi-spec")
    val p = dir.resolve("plate_01.czi").toString
    Czi.writeMinimal(p, Seq("well-A1", "well-B2"), tiles = 2,
      channels = 2, depth = 1, h = 6, w = 5, pixel)
    p
  }

  private lazy val zFixture: String = {
    val dir = Files.createTempDirectory("czi-spec-z")
    val p = dir.resolve("stack.czi").toString
    Czi.writeMinimal(p, Seq("s0"), tiles = 1, channels = 2, depth = 3,
      h = 4, w = 4, pixel)
    p
  }

  test("index parse: entries, scenes, tiles, names") {
    val idx = Czi.readIndex(fixture)
    assert(idx.entries.length == 2 * 2 * 2) // scenes x tiles x channels
    assert(idx.entries.forall(_.compression == 0))
    assert(idx.sceneNames == Map(0 -> "well-A1", 1 -> "well-B2"))
    assert(idx.entries.map(_.start("S")).distinct.sorted == Seq(0, 1))
    assert(idx.entries.map(_.start("M")).distinct.sorted == Seq(0, 1))
  }

  test("meta scan: one row per (scene, tile) with regex groups from scene name") {
    val meta = Czi.metaFromDirectory(spark, fixture,
      regex = "well-(?<row>[A-Z])(?<col>[0-9]+)")
    val rows = meta.orderBy("id").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("well-A1", "well-A1", "well-B2", "well-B2"))
    assert(rows.map(_.getInt(3)).toSeq == Seq(0, 1, 0, 1))
    val m = rows.head.getMap[String, String](5)
    assert(m("row") == "A" && m("col") == "1")
  }

  test("scene selection: explicit list and regex filter") {
    val listed = Czi.metaFromDirectory(spark, fixture, scenes = Seq("well-B2"))
    assert(listed.collect().map(_.getString(1)).distinct.toSeq == Seq("well-B2"))
    val filtered = Czi.metaFromDirectory(spark, fixture, scenesRegex = "well-A.*")
    assert(filtered.collect().map(_.getString(1)).distinct.toSeq == Seq("well-A1"))
  }

  test("pixel roundtrip: exact values per scene/tile/channel") {
    val events = Czi.loadPixels(
      Czi.metaFromDirectory(spark, fixture), channels = Seq(0, 1)).collect()
    assert(events.length == 4)
    events.foreach { e =>
      assert(e.channels == 2 && e.height == 6 && e.width == 5)
      val s = e.meta("scene") match { case "well-A1" => 0; case _ => 1 }
      val t = e.meta("tile").toInt
      for (c <- 0 until 2; r <- 0 until 6; col <- 0 until 5)
        assert(e.pixels(c * 30 + r * 5 + col) == pixel(s, t, c, 0, r, col))
      assert(e.group == s"${e.meta("scene")}/$t")
    }
  }

  test("channel selection subsets and reorders") {
    val e = Czi.loadPixels(
      Czi.metaFromDirectory(spark, fixture, scenes = Seq("well-A1")),
      channels = Seq(1)).collect().head
    assert(e.channels == 1)
    assert(e.pixels(0) == pixel(0, 0, 1, 0, 0, 0))
  }

  test("z stacks carry depth for the projection stage") {
    val e = Czi.loadPixels(Czi.metaFromDirectory(spark, zFixture)).collect().head
    assert(e.meta("depth") == "3")
    assert(e.pixels.length == 2 * 3 * 4 * 4)
    // plane order is (C, Z): channel-major, z within channel
    assert(e.pixels(0) == pixel(0, 0, 0, 0, 0, 0))
    assert(e.pixels(16) == pixel(0, 0, 0, 1, 0, 0))
    assert(e.pixels(3 * 16) == pixel(0, 0, 1, 0, 0, 0))
    // and the projection stage consumes it
    import graft.core.Codecs._
    val ds = spark.createDataset(Seq(e))
    val projected = graft.ops.Projection(ds, "max").collect().head
    assert(projected.pixels.length == 2 * 4 * 4)
    assert(!projected.meta.contains("depth"))
    assert(projected.pixels(0) == pixel(0, 0, 0, 2, 0, 0)) // max over z
  }

  test("zstd0-compressed Gray32Float subblocks roundtrip exactly") {
    val dir = Files.createTempDirectory("czi-zstd0")
    val p = dir.resolve("z0.czi").toString
    Czi.writeMinimal(p, Seq("s0"), tiles = 2, channels = 2, depth = 1,
      h = 6, w = 5, pixel, pixelType = 2, compression = 5)
    assert(Czi.readIndex(p).entries.forall(_.compression == 5))
    val events = Czi.loadPixels(Czi.metaFromDirectory(spark, p))
      .collect().sortBy(_.idx)
    assert(events.length == 2)
    events.foreach { e =>
      val t = e.meta("tile").toInt
      for (c <- 0 until 2; r <- 0 until 6; col <- 0 until 5)
        assert(e.pixels(c * 30 + r * 5 + col) == pixel(0, t, c, 0, r, col))
    }
  }

  test("zstd1 Gray16 subblocks with low/high packing decode exactly") {
    val dir = Files.createTempDirectory("czi-zstd1")
    val p = dir.resolve("z1.czi").toString
    // Gray16 values in [0, 65535]; pixel() stays well below for these dims
    Czi.writeMinimal(p, Seq("s0"), tiles = 1, channels = 2, depth = 1,
      h = 4, w = 4, pixel, pixelType = 1, compression = 6)
    assert(Czi.readIndex(p).entries.forall(e =>
      e.compression == 6 && e.pixelType == 1))
    val e = Czi.loadPixels(Czi.metaFromDirectory(spark, p)).collect().head
    for (c <- 0 until 2; r <- 0 until 4; col <- 0 until 4)
      assert(e.pixels(c * 16 + r * 4 + col) == pixel(0, 0, c, 0, r, col))
  }

  test("zstd1 header parse and byte packing invert each other") {
    assert(Czi.parseZstd1Header(Array[Byte](1, 99)) == ((1, false)))
    assert(Czi.parseZstd1Header(Array[Byte](3, 1, 1, 42)) == ((3, true)))
    assert(Czi.parseZstd1Header(Array[Byte](3, 1, 0, 42)) == ((3, false)))
    // unknown chunk types are skipped without affecting the flag
    assert(Czi.parseZstd1Header(Array[Byte](5, 7, 9, 1, 1)) == ((5, true)))
    val interleaved = Array[Byte](1, 2, 3, 4, 5, 6)
    val packed = Czi.unpackLowHighInverse(interleaved)
    assert(packed.toSeq == Seq[Byte](1, 3, 5, 2, 4, 6))
    assert(Czi.unpackLowHigh(packed).toSeq == interleaved.toSeq)
  }

  test("JPEG-XR subblocks are rejected with a clear error") {
    val dir = Files.createTempDirectory("czi-jxr")
    val p = dir.resolve("jxr.czi").toString
    Czi.writeMinimal(p, Seq("s0"), tiles = 1, channels = 1, depth = 1,
      h = 2, w = 2, pixel)
    // patch the directory entry's compression field to 4 (JPEG-XR):
    // entry layout = 2 (schema) + 4 (pixelType) + 8 (filePos) + 4 (part)
    val idx = Czi.readIndex(p)
    val raf = new java.io.RandomAccessFile(p, "rw")
    try {
      // find the DV entry inside the subblock segment (offset 48 =
      // 32 seg hdr + 16 fixed) and the directory copy; patch both
      val e = idx.entries.head
      raf.seek(e.filePosition + 32 + 16 + 2 + 4 + 8 + 4)
      raf.write(Array[Byte](4, 0, 0, 0))
    } finally raf.close()
    // re-read: directory still says 0, but the authoritative reject is
    // driven by the directory entry — patch the directory too
    val err = intercept[Exception] {
      val patched = idx.entries.head.copy(compression = 4)
      Czi.readSubBlockPlane(
        java.nio.channels.FileChannel.open(java.nio.file.Paths.get(p),
          java.nio.file.StandardOpenOption.READ), patched, p)
    }
    assert(err.getMessage.contains("bfconvert") && err.getMessage.contains("JPEG-XR"))
  }
  /** a one-subblock fixture with little-endian fields of its file
    * overwritten: `edits` maps (path, entry) to (file offset, bytes) */
  private def patched(compression: Int)(
      edits: (String, Czi.SubBlockEntry) => Seq[(Long, Array[Byte])]): (String, Czi.SubBlockEntry) = {
    val p = Files.createTempDirectory("czi-bound").resolve("patched.czi").toString
    Czi.writeMinimal(p, Seq("s0"), tiles = 1, channels = 1, depth = 1,
      h = 3, w = 4, pixel, compression = compression)
    val todo = edits(p, Czi.readIndex(p).entries.head)
    val raf = new java.io.RandomAccessFile(p, "rw")
    try todo.foreach { case (at, bytes) => raf.seek(at); raf.write(bytes) } finally raf.close()
    (p, Czi.readIndex(p).entries.head)
  }

  private def le(v: Long, n: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array().take(n)

  /** file offset of the directory entry's stored size of dim `dim`
    * (writeMinimal writes X first, then Y) */
  private def storedSizeAt(p: String, dim: Int): Long = {
    val raf = new java.io.RandomAccessFile(p, "r")
    val dirPos = try { raf.seek(32 + 52); java.lang.Long.reverseBytes(raf.readLong()) } finally raf.close()
    // segment header, directory fixed part, entry fixed part, 20-byte dims
    dirPos + 32 + 128 + 32 + 20 * dim + 16
  }

  private def readPlane(p: String, e: Czi.SubBlockEntry) = {
    val ch = java.nio.channels.FileChannel.open(java.nio.file.Paths.get(p),
      java.nio.file.StandardOpenOption.READ)
    try Czi.readSubBlockPlane(ch, e, p) finally ch.close()
  }

  test("an inflated subblock data size fails with a named IOException") {
    for (comp <- Seq(0, 5, 6); size <- Seq(1L << 20, 3L << 30, 1L << 40, -1L)) {
      // the data size sits 8 bytes into the subblock's fixed part
      val (p, e) = patched(comp)((_, e) => Seq((e.filePosition + 32 + 8, le(size, 8))))
      val err = intercept[java.io.IOException](readPlane(p, e))
      assert(err.getMessage.contains(p) && err.getMessage.contains(s"offset ${e.filePosition}") &&
        err.getMessage.contains(s"data size $size"), err.getMessage)
    }
  }

  test("an inflated stored X/Y fails with a named IOException") {
    for (comp <- Seq(0, 5, 6); (x, y) <- Seq((4000, 3), (4, 3000), (65536, 65536), (46341, 46341))) {
      val (p, e) = patched(comp)((p, _) =>
        Seq((storedSizeAt(p, 0), le(x, 4)), (storedSizeAt(p, 1), le(y, 4))))
      assert(e.stored("X") == x && e.stored("Y") == y)
      val err = intercept[java.io.IOException](readPlane(p, e))
      assert(err.getMessage.contains(p) && err.getMessage.contains(s"offset ${e.filePosition}"),
        err.getMessage)
    }
  }
}
