package graft.sources

import java.io.IOException
import java.nio.{ByteBuffer, ByteOrder}

/** Blosc v1 frame decoder (the numcodecs/zarr default compressor) with
  * an LZ4-block codec and byte-unshuffle — written against the public
  * c-blosc container format and LZ4 block specification. Covers what
  * zarr chunks in the wild actually use (`cname: lz4`, byte shuffle);
  * other codecs fail loudly.
  *
  * Frame: 16-byte header (version, versionlz, flags, typesize, then LE
  * u32 nbytes / blocksize / cbytes), then — unless the memcpy flag is
  * set — one LE u32 start offset per block, then the blocks. Each
  * non-leftover block of a splittable codec (blosclz/lz4, typesize ≤
  * 16, blocksize/typesize ≥ 128) is split into `typesize` streams,
  * each `[u32 compressed-size][payload]`, where compressed-size equal
  * to the stream's output size marks a stored (uncompressed) stream.
  * Byte-shuffle is block-local: after a block's streams are decoded,
  * bytes regroup from all-first-bytes/all-second-bytes/... order.
  */
object Blosc {

  private val ByteShuffle = 0x1
  private val Memcpyed = 0x2
  private val MaxSplits = 16
  private val MinBufferSize = 128

  /** decode one frame. `expected` >= 0 is the decoded size the caller
    * knows (a fixed-dtype zarr chunk); a header `nbytes` that differs
    * fails with an IOException before anything is allocated, as does a
    * memcpyed frame too short to hold `nbytes`. Pass -1 when the size
    * is unknown (vlen chunks). */
  def decode(frame: Array[Byte], expected: Long = -1L): Array[Byte] = {
    if (frame.length < 16)
      throw new IOException(s"blosc frame of ${frame.length} bytes, shorter than its 16-byte header")
    val bb = ByteBuffer.wrap(frame).order(ByteOrder.LITTLE_ENDIAN)
    val flags = frame(2) & 0xff
    val typesize = frame(3) & 0xff
    val nbytes = bb.getInt(4)
    val blocksize = bb.getInt(8)
    require(nbytes >= 0 && blocksize > 0, s"bad blosc header: n=$nbytes block=$blocksize")
    if (expected >= 0 && nbytes != expected)
      throw new IOException(s"blosc header nbytes $nbytes != expected decoded size $expected")
    val memcpyed = (flags & Memcpyed) != 0
    if (memcpyed && frame.length < 16L + nbytes)
      throw new IOException(
        s"memcpyed blosc frame of ${frame.length} bytes cannot hold 16 + $nbytes")
    val out = new Array[Byte](nbytes)
    if (memcpyed) {
      System.arraycopy(frame, 16, out, 0, nbytes)
      return out
    }
    val codec = (flags >> 5) & 0x7 // 0 blosclz, 1 lz4/lz4hc, 3 zlib, 5 zstd
    require(codec == 1, s"unsupported blosc codec id $codec (only lz4 implemented)")
    // BITSHUFFLE (0x4) frames carry the same codec id and stream
    // structure as plain lz4 — skipping the bit-transpose would return
    // silently corrupt bytes, so reject loudly like any other codec gap
    require((flags & 0x4) == 0,
      "unsupported blosc frame: BITSHUFFLE filter (only byte-shuffle implemented)")
    val nblocks = (nbytes + blocksize - 1) / blocksize
    val starts = (0 until nblocks).map(i => bb.getInt(16 + 4 * i))
    var b = 0
    while (b < nblocks) {
      val bsize = math.min(blocksize, nbytes - b * blocksize)
      // c-blosc's `leftoverblock`: the final PARTIAL block (when nbytes isn't
      // a blocksize multiple) is never split, regardless of typesize math.
      val leftoverblock = b == nblocks - 1 && nbytes % blocksize != 0
      val splittable = typesize > 1 && typesize <= MaxSplits &&
        blocksize / typesize >= MinBufferSize && !leftoverblock
      val nsplits = if (splittable) typesize else 1
      val neblock = bsize / nsplits
      var src = starts(b)
      val block = new Array[Byte](bsize)
      var j = 0
      while (j < nsplits) {
        val cb = bb.getInt(src); src += 4
        if (cb == neblock) System.arraycopy(frame, src, block, j * neblock, neblock)
        else lz4Decompress(frame, src, cb, block, j * neblock, neblock)
        src += cb
        j += 1
      }
      val unshuffled =
        if ((flags & ByteShuffle) != 0 && typesize > 1) unshuffle(block, typesize)
        else block
      System.arraycopy(unshuffled, 0, out, b * blocksize, bsize)
      b += 1
    }
    out
  }

  /** block-local byte-unshuffle: input is all first-bytes, then all
    * second-bytes, ...; the tail not divisible by typesize stays as-is */
  private[sources] def unshuffle(block: Array[Byte], typesize: Int): Array[Byte] = {
    val n = block.length
    val items = n / typesize
    val shuffled = items * typesize
    val out = new Array[Byte](n)
    var j = 0
    while (j < typesize) {
      var i = 0
      while (i < items) {
        out(i * typesize + j) = block(j * items + i)
        i += 1
      }
      j += 1
    }
    System.arraycopy(block, shuffled, out, shuffled, n - shuffled)
    out
  }

  /** LZ4 block-format decompression (not the frame format) */
  private[sources] def lz4Decompress(src: Array[Byte], srcOff: Int, srcLen: Int,
      dst: Array[Byte], dstOff: Int, dstLen: Int): Unit = {
    var s = srcOff
    val sEnd = srcOff + srcLen
    var d = dstOff
    val dEnd = dstOff + dstLen
    while (s < sEnd && d < dEnd) {
      val token = src(s) & 0xff; s += 1
      var litLen = token >>> 4
      if (litLen == 15) {
        var x = 255
        while (x == 255) { x = src(s) & 0xff; s += 1; litLen += x }
      }
      System.arraycopy(src, s, dst, d, litLen)
      s += litLen; d += litLen
      if (s < sEnd) {
        val offset = ((src(s) & 0xff) | ((src(s + 1) & 0xff) << 8)); s += 2
        require(offset > 0 && d - offset >= dstOff, s"bad lz4 match offset $offset at $d")
        var matchLen = (token & 0xf) + 4
        if ((token & 0xf) == 15) {
          var x = 255
          while (x == 255) { x = src(s) & 0xff; s += 1; matchLen += x }
        }
        // byte-wise copy: matches may overlap their own output
        var m = d - offset
        val stop = d + matchLen
        while (d < stop) { dst(d) = dst(m); d += 1; m += 1 }
      }
    }
    require(d == dEnd, s"lz4 block decoded ${d - dstOff} of $dstLen bytes")
  }
}
