package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Blosc decode + vlen-array zarr, validated against the reference
  * repo's own fixture (test/data/test.zarr: blosc-lz4, byte-shuffle,
  * object dtype with the vlen-array <u2 filter) — externally-produced
  * bytes, not a self-roundtrip. */
class BloscSpec extends SparkSpec {

  private val fixture = "/root/reference/test/data/test.zarr"

  test("lz4 block decode: literals, matches, overlapping copies") {
    // "abcabcabcabcd" via a literal run + overlapping match:
    // token 0x35: 3 literals, match len 5+4=9; offset 3
    val comp = Array[Byte](0x35, 'a', 'b', 'c', 3, 0, 0x10, 'd')
    val out = new Array[Byte](13)
    Blosc.lz4Decompress(comp, 0, comp.length, out, 0, 13)
    assert(new String(out) == "abcabcabcabcd")
  }

  test("byte-unshuffle regroups block-local byte planes") {
    // 3 items of typesize 2, shuffled = firsts then seconds, +1 tail byte
    val shuffled = Array[Byte](1, 3, 5, 2, 4, 6, 9)
    assert(Blosc.unshuffle(shuffled, 2).toSeq == Seq[Byte](1, 2, 3, 4, 5, 6, 9))
  }

  test("partial last block is a leftoverblock: never split") {
    // Two-block frame, typesize=2, blocksize=256, nbytes=386: the last
    // block is 130 bytes (typesize-divisible, but nbytes % blocksize != 0)
    // so c-blosc marks it leftover and writes ONE stream, not typesize.
    val typesize = 2
    val blocksize = 256
    val nbytes = 386
    val expected = Array.tabulate[Byte](nbytes)(i => ((i * 7 + 3) % 251).toByte)
    def shuffleBlock(data: Array[Byte]): Array[Byte] = {
      val items = data.length / typesize
      val out = new Array[Byte](data.length)
      for (j <- 0 until typesize; i <- 0 until items)
        out(j * items + i) = data(i * typesize + j)
      out
    }
    val b0 = shuffleBlock(expected.slice(0, 256))   // split: 2 stored streams of 128
    val b1 = shuffleBlock(expected.slice(256, 386)) // leftover: 1 stored stream of 130
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + (4 + 128) * 2 + 4 + 130)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(2.toByte).put(1.toByte).put((0x1 | 0x20).toByte).put(typesize.toByte)
    bb.putInt(nbytes).putInt(blocksize).putInt(bb.capacity)
    bb.putInt(24).putInt(24 + (4 + 128) * 2)
    bb.putInt(128).put(b0, 0, 128).putInt(128).put(b0, 128, 128)
    bb.putInt(130).put(b1)
    assert(Blosc.decode(bb.array).toSeq == expected.toSeq)
  }

  /** a memcpyed (stored) frame whose header claims `nbytes` and which
    * carries `payload` bytes after the header */
  private def memcpyedFrame(nbytes: Int, payload: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 + payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(2.toByte).put(1.toByte).put(0x2.toByte).put(4.toByte)
    bb.putInt(nbytes).putInt(nbytes max 1).putInt(16 + payload)
    bb.array
  }

  test("corrupted header: an inflated nbytes fails by name before allocating") {
    val frame = memcpyedFrame(Int.MaxValue - 16, 64)
    // fixed-dtype chunk: the known size rejects the header outright
    val known = intercept[java.io.IOException](Blosc.decode(frame, 64L))
    assert(known.getMessage.contains("nbytes") && known.getMessage.contains("64"))
    // size unknown (vlen): the frame is too short to hold what it claims
    val unknown = intercept[java.io.IOException](Blosc.decode(frame))
    assert(unknown.getMessage.contains("cannot hold"))
    assert(Blosc.decode(memcpyedFrame(64, 64), 64L).length == 64)
  }

  test("corrupted header: a short memcpyed frame fails by name") {
    val ex = intercept[java.io.IOException](Blosc.decode(memcpyedFrame(64, 10), 64L))
    assert(ex.getMessage.contains("26 bytes cannot hold 16 + 64"))
    assert(intercept[java.io.IOException](Blosc.decode(new Array[Byte](7)))
      .getMessage.contains("16-byte header"))
  }

  test("zarr: a blosc chunk whose header disagrees with .zarray names the chunk") {
    val dir = Files.createTempDirectory("graft-blosc")
    Files.writeString(dir.resolve(".zarray"),
      """{"chunks":[2,8],"compressor":{"id":"blosc","cname":"lz4"},"dtype":"<f4",
        |"fill_value":0,"filters":null,"order":"C","shape":[2,8],"zarr_format":2}""".stripMargin)
    Files.writeString(dir.resolve(".zattrs"), """{"object_number":[1,2],"shape":[[2,2,2],[2,2,2]]}""")
    Files.write(dir.resolve("0.0"), memcpyedFrame(2 * 8 * 4, 2 * 8 * 4))
    val m = Zarr.readMeta(dir.toString)
    assert(Zarr.readRow(dir.toString, m, 1).length == 8)
    Files.write(dir.resolve("0.0"), memcpyedFrame(Int.MaxValue - 16, 64))
    val ex = intercept[java.io.IOException](Zarr.readRow(dir.toString, m, 1))
    assert(ex.getMessage.contains(s"zarr chunk 0.0 in $dir"))
  }

  test("reference fixture chunks decode to the exact advertised size") {
    assume(Files.exists(Paths.get(fixture)))
    for (chunk <- Seq("0", "1")) {
      val frame = Files.readAllBytes(Paths.get(fixture, chunk))
      val nbytes = java.nio.ByteBuffer.wrap(frame)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(4)
      val out = Blosc.decode(frame)
      assert(out.length == nbytes)
    }
  }

  test("vlen items match the .zattrs record shapes exactly") {
    assume(Files.exists(Paths.get(fixture)))
    val m = Zarr.readMeta(fixture)
    assert(m.compressor == "blosc" && m.vlenDtype.contains("<u2"))
    assert(m.objectNumbers.length == 10)
    val cache = new Zarr.ChunkCache
    (0 until 10).foreach { i =>
      val row = Zarr.readRow(fixture, m, i, cache)
      val Seq(c, h, w) = m.recordShapes(i)
      assert(row.length == c * h * w, s"record $i: ${row.length} != $c*$h*$w")
      assert(row.forall(v => v >= 0 && v < 65536), s"record $i out of u2 range")
      // real image data: planes are non-constant
      assert(row.distinct.length > 10, s"record $i suspiciously uniform")
    }
  }

  test("the reference fixture loads end-to-end as image events") {
    assume(Files.exists(Paths.get(fixture)))
    val meta = Zarr.metaFromDirectory(spark, fixture)
    val events = Zarr.loadPixels(meta).collect().sortBy(_.meta("zarr_idx").toInt)
    assert(events.length == 10)
    val m = Zarr.readMeta(fixture)
    events.zipWithIndex.foreach { case (e, i) =>
      val Seq(c, h, w) = m.recordShapes(i)
      assert(e.channels == c && e.height == h && e.width == w)
      assert(e.idx == m.objectNumbers(i))
    }
    // determinism: a second load is bit-identical
    val again = Zarr.loadPixels(meta).collect().sortBy(_.meta("zarr_idx").toInt)
    assert(events.zip(again).forall { case (a, b) => a.pixels.sameElements(b.pixels) })
  }
}
