package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import graft.ndarray.ByteLanes

/** Blosc1 frame codec — the default compressor of real-world Zarr v2
  * stores (numcodecs `Blosc(cname='lz4', clevel=5, shuffle=SHUFFLE)`),
  * which the reference opens transparently via zarr-python
  * (zarr.py:72-96). Implemented from the public c-blosc 1.x container
  * format so `fromZarr` can ingest stores we didn't write, with no
  * native library: inner streams decode through the JVM codecs Spark
  * already ships (lz4-java, zstd-jni, java.util.zip, snappy-java).
  *
  * Frame layout (16-byte header, all multi-byte fields little-endian):
  *
  *   byte 0   format version (2)
  *   byte 1   codec format version
  *   byte 2   flags: bit0 byte-shuffle, bit1 pure-memcpy, bit2
  *            bit-shuffle, bit4 dont-split, bits5-7 codec id
  *            (0 blosclz, 1 lz4/lz4hc, 2 snappy, 3 zlib, 4 zstd)
  *   byte 3   typesize
  *   4..7     nbytes   (uncompressed size)
  *   8..11    blocksize
  *   12..15   cbytes   (total frame size)
  *
  * Non-memcpy frames follow with int32 block-start offsets (absolute
  * within the frame), one per `ceil(nbytes / blocksize)` block. Each
  * block holds `typesize` streams when byte-shuffle is on, splitting
  * wasn't disabled, and the block isn't the short trailing one —
  * otherwise a single stream. A stream is an int32 compressed length
  * then payload; length == uncompressed stream size marks a stored
  * (incompressible) stream. Blocks byte-unshuffle after stream decode:
  * the shuffled image groups byte-lane j of every element together,
  * with any sub-element remainder bytes carried through unchanged
  * ([[graft.ndarray.ByteLanes]], which the NdArray wire format shares).
  *
  * The blosclz inner codec (c-blosc's native FastLZ-derived LZ77) is
  * implemented directly — see [[blosclzDecompress]]. The bit-shuffle
  * filter (numcodecs `shuffle=BITSHUFFLE`) is implemented per the
  * public bitshuffle/c-blosc semantics — see [[bitShuffleBytes]] — so
  * any publicly produced v2 store decodes regardless of its filter.
  */
object Blosc {

  private val FlagShuffle = 0x01
  private val FlagMemcpy = 0x02
  private val FlagBitShuffle = 0x04
  private val FlagDontSplit = 0x10

  private val CodecBloscLz = 0
  private val CodecLz4 = 1
  private val CodecSnappy = 2
  private val CodecZlib = 3
  private val CodecZstd = 4

  private lazy val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance()

  // ------------------------------------------------------------- decode

  def decode(frame: Array[Byte]): Array[Byte] = {
    require(frame.length >= 16, s"blosc frame too short: ${frame.length} bytes")
    val bb = ByteBuffer.wrap(frame).order(ByteOrder.LITTLE_ENDIAN)
    val flags = frame(2) & 0xff
    val typesize = frame(3) & 0xff
    val nbytes = bb.getInt(4)
    val blocksize = bb.getInt(8)
    val cbytes = bb.getInt(12)
    require(nbytes >= 0 && cbytes >= 0 && cbytes <= frame.length,
      s"corrupt blosc header: nbytes=$nbytes cbytes=$cbytes frame=${frame.length}")
    if (nbytes == 0) return Array.emptyByteArray
    if ((flags & FlagMemcpy) != 0) {
      require(frame.length >= 16 + nbytes, s"truncated memcpy blosc frame")
      return java.util.Arrays.copyOfRange(frame, 16, 16 + nbytes)
    }
    require(blocksize > 0, s"corrupt blosc header: blocksize=$blocksize")
    val codec = (flags >> 5) & 0x7
    val byteShuffle = (flags & FlagShuffle) != 0 && typesize > 1
    val bitShuffle = (flags & FlagBitShuffle) != 0
    require(!(byteShuffle && bitShuffle),
      "corrupt blosc header: both shuffle filters flagged")
    val dontSplit = (flags & FlagDontSplit) != 0
    val nblocks = ((nbytes.toLong + blocksize - 1) / blocksize).toInt
    val out = new Array[Byte](nbytes)
    val tmp = new Array[Byte](blocksize)
    var b = 0
    while (b < nblocks) {
      val bsize = math.min(blocksize, nbytes - b * blocksize)
      val leftover = bsize != blocksize
      var pos = bb.getInt(16 + 4 * b)
      require(pos >= 16 && pos < frame.length, s"corrupt blosc block offset $pos")
      // The dont-split bit (plus the short trailing block) is the SOLE
      // split authority: c-blosc splits independently of shuffling
      // (e.g. lz4 without shuffle still splits under the default
      // forward-compat split mode), so the shuffle flag must not gate
      // the stream count.
      val nstreams =
        if (!dontSplit && !leftover) math.max(typesize, 1) else 1
      val neblock = bsize / nstreams
      val filtered = byteShuffle || bitShuffle
      val dest = if (filtered) tmp else out
      val destBase = if (filtered) 0 else b * blocksize
      var s = 0
      while (s < nstreams) {
        val cb = bb.getInt(pos); pos += 4
        require(cb >= 0 && cb <= frame.length - pos,
          s"corrupt blosc stream: cbytes=$cb at offset $pos")
        val destOff = destBase + s * neblock
        if (cb == neblock) {
          System.arraycopy(frame, pos, dest, destOff, neblock)
        } else decodeStream(codec, frame, pos, cb, dest, destOff, neblock)
        pos += cb
        s += 1
      }
      if (byteShuffle) ByteLanes.unshuffle(typesize, tmp, 0, bsize, out, b * blocksize)
      else if (bitShuffle) bitUnshuffle(typesize, tmp, bsize, out, b * blocksize)
      b += 1
    }
    out
  }

  private def decodeStream(codec: Int, src: Array[Byte], srcOff: Int,
                           srcLen: Int, dest: Array[Byte], destOff: Int,
                           destLen: Int): Unit = codec match {
    case CodecLz4 =>
      lz4.fastDecompressor().decompress(src, srcOff, dest, destOff, destLen)
    case CodecZstd =>
      val n = com.github.luben.zstd.Zstd.decompressByteArray(
        dest, destOff, destLen, src, srcOff, srcLen)
      require(!com.github.luben.zstd.Zstd.isError(n) && n == destLen,
        s"zstd stream decode failed (rc=$n, want $destLen)")
    case CodecZlib =>
      val inf = new java.util.zip.Inflater()
      inf.setInput(src, srcOff, srcLen)
      var got = 0
      while (got < destLen && !inf.finished()) {
        val n = inf.inflate(dest, destOff + got, destLen - got)
        if (n == 0 && inf.needsInput())
          throw new IllegalStateException("truncated zlib stream in blosc block")
        got += n
      }
      inf.end()
      require(got == destLen, s"zlib stream decoded $got of $destLen bytes")
    case CodecSnappy =>
      val n = org.xerial.snappy.Snappy.uncompress(src, srcOff, srcLen,
        dest, destOff)
      require(n == destLen, s"snappy stream decoded $n of $destLen bytes")
    case CodecBloscLz =>
      blosclzDecompress(src, srcOff, srcLen, dest, destOff, destLen)
    case other => throw new IllegalArgumentException(
      s"unknown blosc inner codec id $other")
  }

  // ------------------------------------------------------------ blosclz

  /** Decode one blosclz stream — c-blosc's native FastLZ-derived LZ77
    * codec (format per the public c-blosc 1.x blosclz.c). Instruction
    * stream: a control byte with top 3 bits = 0 starts a literal run of
    * `(ctrl & 31) + 1` bytes (the stream's first control byte is
    * always a run — the decoder masks it to 31); otherwise a match of
    * length `(ctrl >> 5) + 2`, where length code 7 extends by
    * following bytes (each adds its value, 255 continues) and the
    * distance is `((ctrl & 31) << 8) + nextByte + 1` — unless that
    * next byte is 255 AND the high bits are all set, which switches to
    * far-match form: two more bytes give `distance - 8192`. Matches
    * may self-overlap (distance 1 = RLE), so the copy is sequential. */
  private[sources] def blosclzDecompress(src: Array[Byte], srcOff: Int,
                                         srcLen: Int, dest: Array[Byte],
                                         destOff: Int, destLen: Int): Unit = {
    require(srcLen > 0, "empty blosclz stream")
    var ip = srcOff
    val ipLimit = srcOff + srcLen
    var op = destOff
    val opLimit = destOff + destLen
    var ctrl = src(ip) & 31
    ip += 1
    var loop = true
    while (loop) {
      if (ctrl >= 32) {
        var len = (ctrl >> 5) - 1
        val ofs = (ctrl & 31) << 8
        if (len == 6) { // length code 7: extended
          var code = 0
          do {
            require(ip < ipLimit, "truncated blosclz stream (ext length)")
            code = src(ip) & 0xff; ip += 1
            len += code
          } while (code == 255)
        }
        require(ip < ipLimit, "truncated blosclz stream (offset byte)")
        val code = src(ip) & 0xff
        ip += 1
        len += 3
        var ref = op - ofs - code - 1
        if (code == 255 && ofs == (31 << 8)) { // far match
          require(ip + 1 < ipLimit, "truncated blosclz stream (far offset)")
          val far = ((src(ip) & 0xff) << 8) + (src(ip + 1) & 0xff)
          ip += 2
          ref = op - far - 8191 - 1
        }
        require(ref >= destOff && op + len <= opLimit,
          s"corrupt blosclz match: ref=${ref - destOff} op=${op - destOff} " +
            s"len=$len dest=$destLen")
        var i = 0
        while (i < len) { dest(op) = dest(ref); op += 1; ref += 1; i += 1 }
      } else {
        val run = ctrl + 1
        require(ip + run <= ipLimit && op + run <= opLimit,
          "corrupt blosclz literal run")
        System.arraycopy(src, ip, dest, op, run)
        ip += run
        op += run
      }
      if (ip < ipLimit) { ctrl = src(ip) & 0xff; ip += 1 } else loop = false
    }
    require(op == opLimit,
      s"blosclz decoded ${op - destOff} of $destLen bytes")
  }

  /** Encode one blosclz stream: greedy LZ77 with a 3-byte hash table,
    * emitting the exact instruction forms [[blosclzDecompress]] reads
    * (literal runs of <= 32, near matches to distance 8191, far
    * matches to 8192+65535, extended lengths). Returns null when the
    * result would not be smaller — the caller stores the raw stream,
    * c-blosc's own fallback. */
  private[sources] def blosclzCompress(src: Array[Byte], off: Int,
                                       len: Int): Array[Byte] = {
    if (len < 16) return null
    val out = new java.io.ByteArrayOutputStream(len / 2 + 16)
    val hashLog = 14
    val table = new Array[Int](1 << hashLog) // pos+1; 0 = empty
    def hash(p: Int): Int = {
      val v = ((src(p) & 0xff)) | ((src(p + 1) & 0xff) << 8) |
        ((src(p + 2) & 0xff) << 16)
      (v * 2654435761L >>> (32 - hashLog)).toInt & ((1 << hashLog) - 1)
    }
    val end = off + len
    var anchor = off // first unemitted literal
    var ip = off + 1 // never match at position 0: refs must precede op
    def flushLiterals(upTo: Int): Unit = {
      var a = anchor
      while (a < upTo) {
        val run = math.min(32, upTo - a)
        out.write(run - 1)
        out.write(src, a, run)
        a += run
      }
      anchor = upTo
    }
    while (ip < end - 2 && out.size() < len) {
      val h = hash(ip)
      val cand = table(h) - 1
      table(h) = ip + 1
      val dist = ip - cand
      if (cand >= off && dist <= 8191 + 65535 + 1 &&
          src(cand) == src(ip) && src(cand + 1) == src(ip + 1) &&
          src(cand + 2) == src(ip + 2)) {
        var l = 3
        while (ip + l < end && src(cand + l) == src(ip + l)) l += 1
        flushLiterals(ip)
        // length field: decoder computes L = code + 2 (code 1..6) or
        // 7-extended; distance field: D - 1 split high5/low8, far form
        // when D > 8192
        val lenCode = if (l <= 8) l - 2 else 7
        if (dist <= 8191) {
          val e = dist - 1
          out.write((lenCode << 5) | (e >> 8))
          if (lenCode == 7) writeExtLen(out, l - 9)
          out.write(e & 0xff)
        } else {
          val far = dist - 8192
          out.write((lenCode << 5) | 31)
          if (lenCode == 7) writeExtLen(out, l - 9)
          out.write(255)
          out.write((far >> 8) & 0xff)
          out.write(far & 0xff)
        }
        // index the skipped positions sparsely (entry + exit) like
        // FastLZ: full indexing buys little at these block sizes
        if (ip + l < end - 2) table(hash(ip + l - 1)) = ip + l
        ip += l
        anchor = ip
      } else ip += 1
    }
    if (out.size() >= len) return null
    flushLiterals(end)
    val enc = out.toByteArray
    if (enc.length < len) enc else null
  }

  /** Extended-length bytes: each adds its value, 255 continues. */
  private def writeExtLen(out: java.io.ByteArrayOutputStream, extra: Int): Unit = {
    var s = extra
    while (s >= 255) { out.write(255); s -= 255 }
    out.write(s)
  }

  // ------------------------------------------------------------- encode

  /** Encode one buffer as a blosc1 frame. `cname` is "lz4" or "zstd";
    * byte shuffle is applied when `shuffle` and typesize > 1, the
    * bit-shuffle filter when `bitShuffle` (which then supersedes byte
    * shuffle — c-blosc applies at most one filter). Streams that do not
    * compress are stored; a frame that does not compress collapses to
    * memcpy mode — exactly c-blosc's fallbacks, so any blosc reader
    * (zarr-python included) accepts the output. */
  def encode(data: Array[Byte], typesize: Int, cname: String = "lz4",
             clevel: Int = 5, shuffle: Boolean = true,
             bitShuffle: Boolean = false): Array[Byte] = {
    require(typesize >= 1 && typesize <= 255, s"bad typesize $typesize")
    val codec = cname match {
      case "lz4" | "lz4hc" => CodecLz4
      case "zstd" => CodecZstd
      case "zlib" => CodecZlib
      case "blosclz" => CodecBloscLz
      case other => throw new IllegalArgumentException(
        s"unsupported blosc cname for encode: $other (blosclz/lz4/zstd/zlib)")
    }
    val nbytes = data.length
    val doShuffle = !bitShuffle && shuffle && typesize > 1 && nbytes >= typesize
    // One block per MiB, aligned down to whole elements so split streams
    // stay exact; tiny buffers are a single block.
    val blocksize =
      if (nbytes <= (1 << 20)) math.max(nbytes, 1)
      else ((1 << 20) / typesize) * typesize
    val nblocks = ((nbytes.toLong + blocksize - 1) / blocksize).toInt
    // Split into per-byte-lane streams only when every lane is big enough
    // to be worth an independent stream (c-blosc's split heuristic).
    val split = doShuffle && blocksize % typesize == 0 &&
      blocksize / typesize >= 128
    val body = new java.io.ByteArrayOutputStream(nbytes / 2 + 64)
    val bstarts = ByteBuffer.allocate(4 * nblocks).order(ByteOrder.LITTLE_ENDIAN)
    val headerLen = 16 + 4 * nblocks
    val tmp = new Array[Byte](blocksize)
    var b = 0
    var incompressible = false
    while (b < nblocks && !incompressible) {
      val bsize = math.min(blocksize, nbytes - b * blocksize)
      val leftover = bsize != blocksize
      bstarts.putInt(headerLen + body.size())
      val src = if (doShuffle) {
        ByteLanes.shuffle(typesize, data, b * blocksize, bsize, tmp, 0); tmp
      } else if (bitShuffle) {
        bitShuffleBytes(typesize, data, b * blocksize, bsize, tmp, 0); tmp
      } else data
      val srcBase = if (doShuffle || bitShuffle) 0 else b * blocksize
      val nstreams = if (split && !leftover) typesize else 1
      val neblock = bsize / nstreams
      var s = 0
      while (s < nstreams) {
        val enc = encodeStream(codec, clevel, src, srcBase + s * neblock, neblock)
        val stored = enc.length >= neblock
        val lenBuf = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
          .putInt(if (stored) neblock else enc.length).array()
        body.write(lenBuf)
        if (stored) body.write(src, srcBase + s * neblock, neblock)
        else body.write(enc, 0, enc.length)
        s += 1
      }
      if (headerLen + body.size() >= nbytes + 16) incompressible = true
      b += 1
    }
    if (incompressible || nbytes == 0) {
      // memcpy fallback: raw bytes, no shuffle, cbytes = nbytes + 16
      val out = ByteBuffer.allocate(16 + nbytes).order(ByteOrder.LITTLE_ENDIAN)
      out.put(2.toByte).put(1.toByte)
        .put((FlagMemcpy | (codec << 5)).toByte).put(typesize.toByte)
      out.putInt(nbytes).putInt(math.max(blocksize, 1)).putInt(16 + nbytes)
      out.put(data)
      return out.array()
    }
    val total = headerLen + body.size()
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    var flags = codec << 5
    if (doShuffle) flags |= FlagShuffle
    if (bitShuffle) flags |= FlagBitShuffle
    if (!split) flags |= FlagDontSplit
    out.put(2.toByte).put(1.toByte).put(flags.toByte).put(typesize.toByte)
    out.putInt(nbytes).putInt(blocksize).putInt(total)
    out.put(bstarts.array())
    out.put(body.toByteArray)
    out.array()
  }

  private def encodeStream(codec: Int, clevel: Int, src: Array[Byte],
                           off: Int, len: Int): Array[Byte] = codec match {
    case CodecLz4 =>
      val c = lz4.fastCompressor()
      val max = c.maxCompressedLength(len)
      val buf = new Array[Byte](max)
      val n = c.compress(src, off, len, buf, 0, max)
      java.util.Arrays.copyOf(buf, n)
    case CodecZstd =>
      val slice = java.util.Arrays.copyOfRange(src, off, off + len)
      com.github.luben.zstd.Zstd.compress(slice, clevel)
    case CodecZlib =>
      val d = new java.util.zip.Deflater(clevel)
      d.setInput(src, off, len); d.finish()
      val outBuf = new java.io.ByteArrayOutputStream(len / 2 + 64)
      val buf = new Array[Byte](65536)
      while (!d.finished()) outBuf.write(buf, 0, d.deflate(buf))
      d.end()
      outBuf.toByteArray
    case CodecBloscLz =>
      val enc = blosclzCompress(src, off, len)
      // null = would not shrink: hand back the raw slice so the
      // caller's stored-stream fallback fires (enc.length >= neblock)
      if (enc == null) java.util.Arrays.copyOfRange(src, off, off + len) else enc
    case other => throw new IllegalArgumentException(s"bad encode codec $other")
  }

  // ------------------------------------------------------------ shuffle

  /** Transpose the 8×8 bit matrix held in a long (byte i = row i, bit
    * j = column j): result byte j bit i = input byte i bit j. The
    * three-step masked-swap network is the standard public construction
    * (Hacker's Delight §7-3; the same TRANS_BIT_8X8 c-blosc's
    * bitshuffle uses). */
  @inline private def transposeBits8x8(x0: Long): Long = {
    var x = x0
    var t = (x ^ (x >>> 7)) & 0x00AA00AA00AA00AAL
    x = x ^ t ^ (t << 7)
    t = (x ^ (x >>> 14)) & 0x0000CCCC0000CCCCL
    x = x ^ t ^ (t << 14)
    t = (x ^ (x >>> 28)) & 0x00000000F0F0F0F0L
    x = x ^ t ^ (t << 28)
    x
  }

  /** Bit-shuffle src[srcOff, srcOff+len) into dest[destOff, +len) —
    * the bitshuffle filter's forward transform (public bitshuffle
    * library semantics, as c-blosc's BITSHUFFLE filter / numcodecs
    * shuffle=2 apply per block): the len bytes hold len/typesize
    * elements; the largest multiple of 8 elements is transformed and
    * every remaining byte copies through unchanged (c-blosc's leftover
    * rule). Output layout, in rows of ne8/8 bytes: for each byte lane
    * l, for each bit k, row (l*8 + k) holds bit k of lane l of every
    * element — byte g of a row packs elements 8g..8g+7, LSB = element
    * 8g. */
  private[sources] def bitShuffleBytes(typesize: Int, src: Array[Byte],
                                       srcOff: Int, len: Int,
                                       dest: Array[Byte], destOff: Int): Unit = {
    val nelem = len / typesize
    val ne8 = nelem - (nelem % 8)
    val rowLen = ne8 / 8
    var l = 0
    while (l < typesize) {
      var g = 0
      while (g < rowLen) {
        // gather the lane-l byte of elements 8g..8g+7 (byte r = elem r)
        var x = 0L
        var r = 0
        var p = srcOff + (g * 8) * typesize + l
        while (r < 8) { x |= (src(p) & 0xffL) << (8 * r); p += typesize; r += 1 }
        val y = transposeBits8x8(x) // byte k = bit k of the 8 elements
        var k = 0
        while (k < 8) {
          dest(destOff + (l * 8 + k) * rowLen + g) = (y >>> (8 * k)).toByte
          k += 1
        }
        g += 1
      }
      l += 1
    }
    val done = ne8 * typesize
    System.arraycopy(src, srcOff + done, dest, destOff + done, len - done)
  }

  /** Inverse of [[bitShuffleBytes]]: src[0, len) → dest[destOff, +len). */
  private[sources] def bitUnshuffle(typesize: Int, src: Array[Byte], len: Int,
                                    dest: Array[Byte], destOff: Int): Unit = {
    val nelem = len / typesize
    val ne8 = nelem - (nelem % 8)
    val rowLen = ne8 / 8
    var l = 0
    while (l < typesize) {
      var g = 0
      while (g < rowLen) {
        var x = 0L
        var k = 0
        while (k < 8) {
          x |= (src((l * 8 + k) * rowLen + g) & 0xffL) << (8 * k)
          k += 1
        }
        val y = transposeBits8x8(x) // byte r = elem 8g+r's lane-l byte
        var r = 0
        var p = destOff + (g * 8) * typesize + l
        while (r < 8) { dest(p) = (y >>> (8 * r)).toByte; p += typesize; r += 1 }
        g += 1
      }
      l += 1
    }
    val done = ne8 * typesize
    System.arraycopy(src, done, dest, destOff + done, len - done)
  }
}
