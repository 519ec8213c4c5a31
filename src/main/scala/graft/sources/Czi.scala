package graft.sources

import graft.core.{Codecs, ImageEvent}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, MapType, StringType, StructField, StructType}
import java.io.{IOException, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Paths, StandardOpenOption}

/** Carl Zeiss Image (CZI / ZISRAW) source — reference S8
  * (loading/czi.py:65-102: scenes × mosaic tiles → events, pixels
  * loaded per scene as a (C,Z,·,·) stack).
  *
  * The reference delegates decoding to the aicsimageio package; this
  * engine carries its own minimal ZISRAW segment parser (file header →
  * subblock directory → uncompressed subblocks), written against the
  * public ZISRAW specification (segment layout as in Zeiss's published
  * libCZI structs): 32-byte segment headers (16-byte ASCII id +
  * allocated/used int64), a `ZISRAWFILE` master header at position 0
  * holding the directory/metadata positions, `DV` directory entries of
  * 20-byte dimension records, and subblock pixel data at offset
  * max(256, 16 + entry size) past the segment data start. zstd0/zstd1
  * compressed subblocks (the codecs modern Zeiss software writes,
  * including zstd1's low/high byte packing) decode via the zstd-jni
  * that ships with Spark; only JPEG-XR is rejected — that codec has no
  * JVM implementation available here.
  *
  * Semantics matched to the reference: one event per (scene, mosaic
  * tile); the `scenes` argument selects scene names (list) or filters
  * them (regex string, like loading/czi.py:78-81); regex named groups
  * are extracted from the SCENE NAME (czi.py:88-90); loader meta is
  * {path, tile, scene, id} + regex groups (czi.py:54-61); group keys
  * are scene and tile (czi.py:64). Pixels load as (C, Z, H, W) with
  * `depth` in meta for the Z-projection stage (P1), stored CZYX
  * row-major (the reference's "CZXY" axis order is an aicsimageio
  * transpose quirk; kernels here address (r, c) natively).
  *
  * Scale posture: the metadata scan parses only the directory segment
  * on the driver (one bounded read per file, like S5); pixel I/O
  * happens on the executors inside `mapPartitions`, one positioned
  * read per subblock — no whole-file loads anywhere.
  */
object Czi {

  // ---- ZISRAW structures --------------------------------------------------

  final case class DimEntry(dim: String, start: Int, size: Int, storedSize: Int)

  final case class SubBlockEntry(
      pixelType: Int, filePosition: Long, compression: Int, pyramidType: Int,
      dims: Seq[DimEntry]) {
    private def d(name: String): Option[DimEntry] = dims.find(_.dim == name)
    def start(name: String, default: Int = 0): Int = d(name).map(_.start).getOrElse(default)
    def stored(name: String): Int = d(name).map(_.storedSize).getOrElse(1)
    def has(name: String): Boolean = d(name).isDefined
  }

  final case class CziIndex(
      entries: Seq[SubBlockEntry], sceneNames: Map[Int, String])

  private val SegHeaderLen = 32
  private def pad32(n: Long): Long = (n + 31) / 32 * 32

  private def readBytes(ch: FileChannel, pos: Long, n: Int): ByteBuffer = {
    val bb = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    var read = 0
    while (read < n) {
      val r = ch.read(bb, pos + read)
      require(r > 0, s"unexpected EOF at ${pos + read}")
      read += r
    }
    bb.flip(); bb
  }

  /** segment header at `pos` → (id, usedSize) */
  private def segmentHeader(ch: FileChannel, pos: Long): (String, Long) = {
    val bb = readBytes(ch, pos, SegHeaderLen)
    val idBytes = new Array[Byte](16)
    bb.get(idBytes)
    val id = new String(idBytes, StandardCharsets.US_ASCII).takeWhile(_ != 0)
    bb.getLong // allocated
    (id, bb.getLong)
  }

  private def parseEntry(bb: ByteBuffer): SubBlockEntry = {
    val schema = new Array[Byte](2); bb.get(schema)
    require(new String(schema, StandardCharsets.US_ASCII) == "DV",
      "only DV subblock directory entries are supported")
    val pixelType = bb.getInt
    val filePos = bb.getLong
    bb.getInt // file part
    val compression = bb.getInt
    val pyramidType = bb.get() & 0xff
    bb.position(bb.position() + 5) // reserved
    val dimCount = bb.getInt
    val dims = (0 until dimCount).map { _ =>
      val nb = new Array[Byte](4); bb.get(nb)
      val name = new String(nb, StandardCharsets.US_ASCII).takeWhile(_ != 0)
      val start = bb.getInt
      val size = bb.getInt
      bb.getFloat // start coordinate
      val storedSize = bb.getInt
      DimEntry(name, start, size, storedSize)
    }
    SubBlockEntry(pixelType, filePos, compression, pyramidType, dims)
  }

  /** parse the master header + subblock directory (+ scene names from
    * the metadata XML) — the driver-side scan */
  def readIndex(path: String): CziIndex = {
    val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
    try {
      val (id, _) = segmentHeader(ch, 0)
      require(id == "ZISRAWFILE", s"not a CZI file (leading segment $id): $path")
      val hdr = readBytes(ch, SegHeaderLen, 80)
      hdr.position(52)
      val dirPos = hdr.getLong
      val metaPos = hdr.getLong
      require(dirPos > 0, s"CZI has no subblock directory: $path")
      val (dirId, dirUsed) = segmentHeader(ch, dirPos)
      require(dirId == "ZISRAWDIRECTORY", s"bad directory segment $dirId in $path")
      val dir = readBytes(ch, dirPos + SegHeaderLen, dirUsed.toInt)
      val entryCount = dir.getInt
      dir.position(128)
      // pyramid levels (downsampled mosaics, pyramidType != 0) are
      // skipped: only level-0 subblocks carry the native-resolution
      // pixels the loader stacks
      val entries = (0 until entryCount).map(_ => parseEntry(dir))
        .filter(_.pyramidType == 0)
      CziIndex(entries, if (metaPos > 0) sceneNamesFromXml(ch, metaPos) else Map.empty)
    } finally ch.close()
  }

  /** scene names out of the metadata segment's XML (Index/Name
    * attributes of <Scene> elements, either attribute order) */
  private def sceneNamesFromXml(ch: FileChannel, metaPos: Long): Map[Int, String] = {
    val (id, used) = segmentHeader(ch, metaPos)
    if (id != "ZISRAWMETADATA") return Map.empty
    val fixed = readBytes(ch, metaPos + SegHeaderLen, 8)
    val xmlSize = fixed.getInt
    // the XML begins after the 256-byte fixed part of the segment
    // body: bounding by `used` alone would let a corrupt xmlSize read
    // past the segment into the next segment's bytes
    if (xmlSize <= 0 || xmlSize > used - 256) return Map.empty
    val xml = new String(
      readBytes(ch, metaPos + SegHeaderLen + 256, xmlSize).array(),
      StandardCharsets.UTF_8)
    val byIndexFirst = """<Scene[^>]*Index="(\d+)"[^>]*Name="([^"]*)"""".r
    val byNameFirst = """<Scene[^>]*Name="([^"]*)"[^>]*Index="(\d+)"""".r
    (byIndexFirst.findAllMatchIn(xml).map(m => m.group(1).toInt -> m.group(2)) ++
      byNameFirst.findAllMatchIn(xml).map(m => m.group(2).toInt -> m.group(1))).toMap
  }

  /** zstd1 payload header (libCZI's published compression options doc):
    * byte 0 = total header size (including itself), then (chunkType,
    * value) byte pairs; the only defined chunk type 1 = "low/high byte
    * packing" flag. Returns (headerSize, lowHighPacked). */
  private[sources] def parseZstd1Header(p: Array[Byte]): (Int, Boolean) = {
    require(p.nonEmpty, "empty zstd1 payload")
    val size = p(0) & 0xff
    require(size >= 1 && size <= p.length, s"bad zstd1 header size $size")
    var packed = false
    var i = 1
    while (i + 1 < size) {
      if ((p(i) & 0xff) == 1) packed = (p(i + 1) & 0xff) != 0
      i += 2
    }
    (size, packed)
  }

  /** undo low/high byte packing (all low bytes, then all high bytes —
    * the zstd1 preprocessing for 16-bit images) into interleaved LE */
  private[sources] def unpackLowHigh(b: Array[Byte]): Array[Byte] = {
    val n = b.length / 2
    val out = new Array[Byte](b.length)
    var i = 0
    while (i < n) { out(2 * i) = b(i); out(2 * i + 1) = b(n + i); i += 1 }
    out
  }

  /** apply low/high packing to interleaved LE 16-bit bytes (writer side) */
  private[sources] def unpackLowHighInverse(b: Array[Byte]): Array[Byte] = {
    val n = b.length / 2
    val out = new Array[Byte](b.length)
    var i = 0
    while (i < n) { out(i) = b(2 * i); out(n + i) = b(2 * i + 1); i += 1 }
    out
  }

  /** a zstd frame that must decode to exactly `n` bytes; a frame that
    * declares another content size fails before `n` bytes are
    * allocated for it */
  private def inflateZstd(comp: Array[Byte], n: Int, codec: String,
      corrupt: String => IOException): Array[Byte] = {
    val declared = com.github.luben.zstd.Zstd.getFrameContentSize(comp)
    if (declared >= 0 && declared != n)
      throw corrupt(s"$codec frame holds $declared bytes, the stored size needs $n")
    val dst = new Array[Byte](n)
    val got = com.github.luben.zstd.Zstd.decompress(dst, comp)
    require(got == n, s"$codec subblock decoded to $got bytes, expected $n")
    dst
  }

  /** decode one subblock to a float plane stack; returns (pixels
    * row-major, h, w) for its (possibly 1-deep) Y×X plane. Compression
    * 0 (none), 5 (zstd0: raw zstd frame) and 6 (zstd1: small header +
    * optional low/high byte packing + zstd frame) are supported —
    * zstd-jni ships with Spark, so the reader stays dependency-free.
    * JPEG-XR (4) subblocks are rejected: that codec has no JVM
    * implementation here. */
  private[sources] def readSubBlockPlane(ch: FileChannel, e: SubBlockEntry,
      path: String): (Array[Float], Int, Int) = {
    require(e.compression == 0 || e.compression == 5 || e.compression == 6,
      if (e.compression == 4)
        "CZI subblock is JPEG-XR-compressed (compression=4). No JVM JPEG-XR " +
          "codec exists, so this reader cannot decode it. Convert the file " +
          "once up front and re-point the source at the result — either " +
          "re-export from ZEN with compression set to none/zstd, or run " +
          "`bfconvert in.czi out.ome.tiff` (Bio-Formats) and use the TIFF " +
          "loader. The scan/meta path works on JPEG-XR files; only pixel " +
          "load is blocked."
      else
        s"unsupported CZI subblock compression ${e.compression} " +
          "(supported: 0=none, 5=zstd0, 6=zstd1)")
    val (id, _) = segmentHeader(ch, e.filePosition)
    require(id == "ZISRAWSUBBLOCK", s"directory points at $id, not a subblock")
    val dataStart = e.filePosition + SegHeaderLen
    val fixed = readBytes(ch, dataStart, 16)
    val metadataSize = fixed.getInt
    fixed.getInt // attachment size
    val dataSize = fixed.getLong
    val entrySize = 32 + 20 * e.dims.length
    val pixelsPos = dataStart + math.max(256, 16 + entrySize) + metadataSize
    val h = e.stored("Y"); val w = e.stored("X")
    val bytesPer = e.pixelType match {
      case 0 => 1 // Gray8
      case 1 => 2 // Gray16
      case 2 => 4 // Gray32Float
      case t => throw new IllegalArgumentException(s"unsupported CZI pixel type $t")
    }
    // every size taken from the headers is checked, in Long, before
    // anything is allocated: the data size against the bytes the file
    // holds after the pixel offset, the decoded size against one array
    // and against the data (uncompressed) or the zstd frame's declared
    // content size (compressed)
    def corrupt(what: String) =
      new IOException(s"corrupt CZI subblock at offset ${e.filePosition} in $path: $what")
    if (metadataSize < 0) throw corrupt(s"negative metadata size $metadataSize")
    val available = ch.size() - pixelsPos
    val nPixelBytes = h.toLong * w * bytesPer
    if (h < 0 || w < 0) throw corrupt(s"negative stored size ${w}x$h")
    if (dataSize < 0 || dataSize > available || dataSize > Int.MaxValue)
      throw corrupt(s"data size $dataSize, but $available bytes follow the pixel offset")
    if (nPixelBytes > Int.MaxValue)
      throw corrupt(s"stored size ${w}x$h of $bytesPer-byte pixels exceeds one array")
    val out = new Array[Float](h * w)
    val bb: ByteBuffer = e.compression match {
      case 0 =>
        if (nPixelBytes > dataSize)
          throw corrupt(s"stored size ${w}x$h needs $nPixelBytes bytes, data size is $dataSize")
        readBytes(ch, pixelsPos, nPixelBytes.toInt)
      case 5 =>
        val comp = new Array[Byte](dataSize.toInt)
        readBytes(ch, pixelsPos, dataSize.toInt).get(comp)
        ByteBuffer.wrap(inflateZstd(comp, nPixelBytes.toInt, "zstd0", corrupt))
          .order(ByteOrder.LITTLE_ENDIAN)
      case 6 =>
        val payload = new Array[Byte](dataSize.toInt)
        readBytes(ch, pixelsPos, dataSize.toInt).get(payload)
        val (hdrSize, packed) = parseZstd1Header(payload)
        val comp = java.util.Arrays.copyOfRange(payload, hdrSize, payload.length)
        val dst = inflateZstd(comp, nPixelBytes.toInt, "zstd1", corrupt)
        val bytes =
          if (packed) {
            require(bytesPer == 2,
              s"zstd1 low/high packing is defined for 16-bit pixels, got pixelType ${e.pixelType}")
            unpackLowHigh(dst)
          } else dst
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    }
    var i = 0
    e.pixelType match {
      case 0 => while (i < out.length) { out(i) = (bb.get(i) & 0xff).toFloat; i += 1 }
      case 1 => while (i < out.length) { out(i) = (bb.getShort(i * 2) & 0xffff).toFloat; i += 1 }
      case 2 => while (i < out.length) { out(i) = bb.getFloat(i * 4); i += 1 }
    }
    (out, h, w)
  }

  // ---- S8 meta scan -------------------------------------------------------

  /** scenes × mosaic tiles → meta rows (czi.py:65-93). `scenesRegex`
    * filters scene names; `scenes` pins an explicit name list (the two
    * branches of czi.py:76-84). */
  def metaFromDirectory(spark: SparkSession, path: String,
      scenes: Seq[String] = null, scenesRegex: String = null,
      regex: String = null): DataFrame = {
    val index = readIndex(path)
    val sceneIdxs = index.entries.map(_.start("S")).distinct.sorted
    val names = sceneIdxs.map(i => i -> index.sceneNames.getOrElse(i, s"S$i")).toMap
    val wanted: Seq[Int] =
      if (scenes != null) {
        // iterate the CALLER's list verbatim (czi.py:76-84: im_scenes =
        // scenes): the user's order drives tile enumeration, and an
        // unknown name fails like the reference's im.set_scene instead
        // of silently contributing zero rows
        val byName = sceneIdxs.groupBy(names).map { case (n, is) => n -> is.min }
        scenes.map(nm => byName.getOrElse(nm,
          throw new IllegalArgumentException(
            s"scene '$nm' not present in $path " +
              s"(have: ${sceneIdxs.map(names).mkString(", ")})")))
      }
      else if (scenesRegex != null) {
        val p = scenesRegex.r
        sceneIdxs.filter(i => p.findPrefixMatchOf(names(i)).isDefined)
      } else sceneIdxs
    val groups = if (regex == null) Seq.empty else Tiff.namedGroups(regex)
    // the reference enumerates range(im.shape[0]) tiles — the DEFAULT
    // (first) scene's mosaic-tile count — for EVERY selected scene
    // (czi.py:91: the AICSImage is never switched to the scene being
    // listed), so a file whose scenes have differing tile counts gets
    // the first scene's count applied to all. Replicated faithfully.
    val defaultScene = sceneIdxs.headOption.getOrElse(0)
    val tiles = index.entries.filter(_.start("S") == defaultScene)
      .map(_.start("M")).distinct.sorted
    val rows = for {
      s <- wanted
      t <- tiles
    } yield {
      val name = names(s)
      val meta: Map[String, String] =
        if (regex == null) Map.empty
        else regex.r.findFirstMatchIn(name) match {
          case Some(m) => groups.map(g => g -> m.group(g)).toMap
          case None => throw new IllegalArgumentException(
            // re.search(regex, scene).groupdict() raises on no match
            // (czi.py:88) — silence here would drop meta columns
            s"scene name '$name' does not match regex '$regex'")
        }
      (path, name, s, t, meta)
    }
    val metaRows = rows.zipWithIndex.map { case ((p, name, s, t, m), id) => Row(p, name, s, t, id, m) }
    spark.createDataFrame(java.util.Arrays.asList(metaRows: _*), MetaSchema)
  }

  /** the meta relation's schema: the one a `(String, String, Int, Int,
    * Int, Map[String, String])` tuple encoder derives, nullability
    * included, without deriving that encoder on every scan */
  private val MetaSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("scene", StringType),
    StructField("scene_index", IntegerType, nullable = false),
    StructField("tile", IntegerType, nullable = false),
    StructField("id", IntegerType, nullable = false),
    StructField("meta", MapType(StringType, StringType))))

  // ---- S8 pixel load ------------------------------------------------------

  /** one event per meta row: the (C, Z, H, W) stack of its (scene,
    * tile), `channels` selecting C indices in order (czi.py:35-46).
    * Decode happens per partition; each file's directory is parsed
    * once per partition and subblocks are read by position. */
  def loadPixels(meta: DataFrame, channels: Seq[Int] = null): Dataset[ImageEvent] = {
    import Codecs._
    val fields = meta.schema.fieldNames
    val pathIdx = fields.indexOf("path")
    val sceneIdx = fields.indexOf("scene")
    val sIdx = fields.indexOf("scene_index")
    val tileIdx = fields.indexOf("tile")
    val idIdx = fields.indexOf("id")
    val metaIdx = fields.indexOf("meta")
    meta.mapPartitions { rows =>
      val indexCache = collection.mutable.Map.empty[String, CziIndex]
      val chCache = collection.mutable.Map.empty[String, FileChannel]
      // channels must close even when the iterator is abandoned early
      // (limit/take) or a decode throws — tie cleanup to task completion
      Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
        chCache.values.foreach(c => try c.close() catch { case _: Exception => () })
      })
      val out = rows.map { row =>
        val path = row.getString(pathIdx)
        val idx = indexCache.getOrElseUpdate(path, readIndex(path))
        val fc = chCache.getOrElseUpdate(path,
          FileChannel.open(Paths.get(path), StandardOpenOption.READ))
        val s = row.getInt(sIdx); val tile = row.getInt(tileIdx)
        val blocks = idx.entries
          .filter(e => e.start("S") == s && e.start("M") == tile &&
            e.start("T") == 0)
        val chans =
          if (channels != null) channels
          else blocks.map(_.start("C")).distinct.sorted
        val zs = blocks.map(_.start("Z")).distinct.sorted
        // a (scene, tile) with no subblocks (scenes with differing
        // mosaic tile counts) must name itself, not die on planes.head
        require(blocks.nonEmpty,
          s"no subblocks for scene $s tile $tile in $path - the scene " +
            "has fewer mosaic tiles than the directory's maximum")
        val planes = for (c <- chans; z <- zs) yield {
          val b = blocks.find(e => e.start("C") == c && e.start("Z") == z)
            .getOrElse(throw new IllegalStateException(
              s"missing subblock C=$c Z=$z for scene $s tile $tile in $path"))
          readSubBlockPlane(fc, b, path)
        }
        val (h, w) = (planes.head._2, planes.head._3)
        require(planes.forall(p => p._2 == h && p._3 == w),
          "subblocks of one scene/tile must share dimensions")
        val px = new Array[Float](planes.length * h * w)
        planes.zipWithIndex.foreach { case ((p, _, _), i) =>
          System.arraycopy(p, 0, px, i * h * w, h * w)
        }
        val baseMeta = row.getMap[String, String](metaIdx).toMap +
          ("scene" -> row.getString(sceneIdx), "tile" -> tile.toString)
        val withDepth =
          if (zs.length > 1) baseMeta + ("depth" -> zs.length.toString) else baseMeta
        ImageEvent.fromPixels(
          path = path,
          idx = row.getInt(idIdx).toLong,
          // group keys are scene and tile (czi.py:64)
          group = s"${row.getString(sceneIdx)}/$tile",
          meta = withDepth,
          channels = chans.length, height = h, width = w, pixels = px)
          .copy(id = row.getInt(idIdx))
      }
      out
    }
  }

  // ---- minimal writer (fixtures / roundtrips) -----------------------------

  /** write a minimal spec-conformant CZI: subblocks for every (scene,
    * tile, channel, z), a metadata segment carrying scene names, and
    * the subblock directory. Exists for roundtrip tests and as the
    * counterpart of the reader above.
    *
    * `pixelType`: 1 (Gray16, values truncated to uint16) or 2
    * (Gray32Float). `compression`: 0 (none), 5 (zstd0), or 6 (zstd1 —
    * written with low/high byte packing when Gray16, mirroring what
    * Zeiss acquisition software emits). */
  def writeMinimal(path: String, sceneNames: Seq[String], tiles: Int,
      channels: Int, depth: Int, h: Int, w: Int,
      pixel: (Int, Int, Int, Int, Int, Int) => Float,
      pixelType: Int = 2, compression: Int = 0): Unit = {
    require(pixelType == 1 || pixelType == 2, s"writer supports Gray16/Gray32Float, got $pixelType")
    require(compression == 0 || compression == 5 || compression == 6,
      s"writer supports none/zstd0/zstd1, got $compression")
    val raf = new RandomAccessFile(path, "rw")
    try {
      raf.setLength(0)
      def writeSegment(id: String, data: Array[Byte]): Long = {
        val pos = raf.getFilePointer
        val alloc = pad32(data.length.toLong)
        val hdr = ByteBuffer.allocate(SegHeaderLen).order(ByteOrder.LITTLE_ENDIAN)
        val idb = id.getBytes(StandardCharsets.US_ASCII)
        hdr.put(java.util.Arrays.copyOf(idb, 16))
        hdr.putLong(alloc)
        hdr.putLong(data.length.toLong)
        raf.write(hdr.array())
        raf.write(data)
        raf.write(new Array[Byte]((alloc - data.length).toInt))
        pos
      }
      def entryBytes(s: Int, t: Int, c: Int, z: Int, filePos: Long): Array[Byte] = {
        val dims = Seq(("X", 0, w), ("Y", 0, h), ("C", c, 1), ("Z", z, 1),
          ("T", 0, 1), ("S", s, 1), ("M", t, 1))
        val bb = ByteBuffer.allocate(32 + 20 * dims.length).order(ByteOrder.LITTLE_ENDIAN)
        bb.put('D'.toByte).put('V'.toByte)
        bb.putInt(pixelType)
        bb.putLong(filePos)
        bb.putInt(0) // file part
        bb.putInt(compression)
        bb.put(0.toByte); bb.put(new Array[Byte](5))
        bb.putInt(dims.length)
        dims.foreach { case (name, start, size) =>
          bb.put(java.util.Arrays.copyOf(name.getBytes(StandardCharsets.US_ASCII), 4))
          bb.putInt(start); bb.putInt(size); bb.putFloat(start.toFloat); bb.putInt(size)
        }
        bb.array()
      }
      // master header placeholder — patched once positions are known
      raf.write(new Array[Byte](SegHeaderLen + 512))
      val coords = for {
        s <- sceneNames.indices; t <- 0 until tiles
        c <- 0 until channels; z <- 0 until depth
      } yield (s, t, c, z)
      val bytesPer = if (pixelType == 1) 2 else 4
      val entries = coords.map { case (s, t, c, z) =>
        val entry = entryBytes(s, t, c, z, raf.getFilePointer)
        val px = ByteBuffer.allocate(h * w * bytesPer).order(ByteOrder.LITTLE_ENDIAN)
        for (r <- 0 until h; col <- 0 until w) {
          val v = pixel(s, t, c, z, r, col)
          if (pixelType == 1) px.putShort((v.toInt & 0xffff).toShort)
          else px.putFloat(v)
        }
        val payload: Array[Byte] = compression match {
          case 0 => px.array()
          case 5 => com.github.luben.zstd.Zstd.compress(px.array())
          case 6 =>
            val pack = pixelType == 1
            val raw = if (pack) unpackLowHighInverse(px.array()) else px.array()
            val comp = com.github.luben.zstd.Zstd.compress(raw)
            // header: size=3, chunk (type=1 lowHighPack, value)
            Array[Byte](3, 1, if (pack) 1 else 0) ++ comp
        }
        val data = ByteBuffer.allocate(256 + payload.length).order(ByteOrder.LITTLE_ENDIAN)
        data.putInt(0) // metadata size
        data.putInt(0) // attachment size
        data.putLong(payload.length.toLong)
        data.put(entry)
        data.position(256)
        data.put(payload)
        val pos = writeSegment("ZISRAWSUBBLOCK", data.array())
        entryBytes(s, t, c, z, pos)
      }
      val xml = ("<ImageDocument><Metadata><Information><Image><Dimensions><S><Scenes>" +
        sceneNames.zipWithIndex.map { case (n, i) =>
          s"""<Scene Index="$i" Name="$n"></Scene>"""
        }.mkString + "</Scenes></S></Dimensions></Image></Information></Metadata>" +
        "</ImageDocument>").getBytes(StandardCharsets.UTF_8)
      val metaData = ByteBuffer.allocate(256 + xml.length).order(ByteOrder.LITTLE_ENDIAN)
      metaData.putInt(xml.length)
      metaData.putInt(0)
      metaData.position(256)
      metaData.put(xml)
      val metaPos = writeSegment("ZISRAWMETADATA", metaData.array())
      val dir = ByteBuffer.allocate(128 + entries.map(_.length).sum)
        .order(ByteOrder.LITTLE_ENDIAN)
      dir.putInt(entries.length)
      dir.position(128)
      entries.foreach(dir.put)
      val dirPos = writeSegment("ZISRAWDIRECTORY", dir.array())
      // patch the master header
      raf.seek(0)
      val hdr = ByteBuffer.allocate(SegHeaderLen + 80).order(ByteOrder.LITTLE_ENDIAN)
      hdr.put(java.util.Arrays.copyOf(
        "ZISRAWFILE".getBytes(StandardCharsets.US_ASCII), 16))
      hdr.putLong(512)
      hdr.putLong(80)
      hdr.putInt(1) // major
      hdr.putInt(0) // minor
      hdr.putInt(0); hdr.putInt(0)
      hdr.put(new Array[Byte](32)) // GUIDs
      hdr.putInt(0) // file part
      hdr.putLong(dirPos)
      hdr.putLong(metaPos)
      hdr.putInt(0) // update pending
      hdr.putLong(0) // attachment directory
      raf.write(hdr.array())
    } finally raf.close()
  }
}
