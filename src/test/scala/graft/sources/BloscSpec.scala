package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import graft.ndarray.ByteLanes

class BloscSpec extends AnyFunSuite {

  private def patterned(n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i / 7) % 251).toByte)

  private def randomBytes(n: Int, seed: Long): Array[Byte] = {
    val r = new scala.util.Random(seed)
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }

  for (cname <- Seq("lz4", "zstd", "zlib", "blosclz");
       typesize <- Seq(1, 2, 4, 8);
       shuffle <- Seq(true, false)) {
    test(s"roundtrip $cname typesize=$typesize shuffle=$shuffle") {
      for (n <- Seq(0, 1, 5, 256, 4096, 100000)) {
        val data = patterned(n)
        val enc = Blosc.encode(data, typesize, cname, shuffle = shuffle)
        assert(Blosc.decode(enc).sameElements(data), s"n=$n")
      }
    }
  }

  test("multi-block buffer (> 1 MiB) with leftover block") {
    // 2.5 MiB of compressible doubles: 3 blocks, last one short and
    // therefore unsplit — exercises the leftover-stream path both ways.
    val n = (2.5 * (1 << 20)).toInt / 8 * 8
    val data = patterned(n)
    val enc = Blosc.encode(data, 8, "lz4", shuffle = true)
    assert(enc.length < n / 2, "compressible data should compress")
    assert(Blosc.decode(enc).sameElements(data))
  }

  test("incompressible data falls back to memcpy mode") {
    val data = randomBytes(4096, seed = 7)
    val enc = Blosc.encode(data, 4, "lz4", shuffle = true)
    assert(enc.length == data.length + 16, "memcpy frame = nbytes + header")
    assert((enc(2) & 0x02) != 0, "memcpy flag set")
    assert(Blosc.decode(enc).sameElements(data))
  }

  test("shuffle transpose is an exact inverse incl. remainder bytes") {
    for (typesize <- Seq(2, 3, 4, 8); n <- Seq(6, 7, 17, 64, 1000)) {
      val data = randomBytes(n, seed = n * typesize)
      val sh = new Array[Byte](n)
      val back = new Array[Byte](n)
      ByteLanes.shuffle(typesize, data, 0, n, sh, 0)
      ByteLanes.unshuffle(typesize, sh, 0, n, back, 0)
      assert(back.sameElements(data), s"typesize=$typesize n=$n")
    }
  }

  test("decodes a hand-assembled unsplit zlib frame (not our encoder's shape)") {
    // Frame laid out straight from the container spec: 3 blocks of 16
    // bytes + an 8-byte leftover, zlib codec, no shuffle, dont-split.
    val data = patterned(56)
    val blocksize = 16
    val streams = data.grouped(blocksize).map { block =>
      val d = new java.util.zip.Deflater(5)
      d.setInput(block); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      val z = out.toByteArray
      if (z.length >= block.length) (block.length, block) else (z.length, z)
    }.toSeq
    val headerLen = 16 + 4 * streams.length
    val total = headerLen + streams.map(4 + _._1).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(2.toByte).put(1.toByte)
      .put(((3 << 5) | 0x10).toByte) // zlib, dont-split
      .put(1.toByte)
    bb.putInt(data.length).putInt(blocksize).putInt(total)
    var off = headerLen
    streams.foreach { case (len, _) => bb.putInt(off); off += 4 + len }
    streams.foreach { case (len, bytes) => bb.putInt(len); bb.put(bytes, 0, len) }
    assert(Blosc.decode(bb.array()).sameElements(data))
  }

  test("hand-assembled split+shuffle lz4 frame with a stored stream") {
    // typesize=2 over 512 bytes, single block, split into 2 lane
    // streams: lane 0 lz4-compressed, lane 1 deliberately stored
    // (cbytes == neblock) — the incompressible-stream marker.
    val n = 512
    val data = Array.tabulate(n)(i => ((i / 16) % 7).toByte)
    val typesize = 2
    val sh = new Array[Byte](n)
    ByteLanes.shuffle(typesize, data, 0, n, sh, 0)
    val neblock = n / typesize
    val lz = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val c0buf = new Array[Byte](lz.maxCompressedLength(neblock))
    val c0len = lz.compress(sh, 0, neblock, c0buf, 0, c0buf.length)
    assert(c0len < neblock, "lane 0 must actually compress for this test")
    val headerLen = 16 + 4
    val total = headerLen + (4 + c0len) + (4 + neblock)
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(2.toByte).put(1.toByte)
      .put(((1 << 5) | 0x01).toByte) // lz4, byte-shuffle, split
      .put(typesize.toByte)
    bb.putInt(n).putInt(n).putInt(total)
    bb.putInt(headerLen)
    bb.putInt(c0len); bb.put(c0buf, 0, c0len)
    bb.putInt(neblock); bb.put(sh, neblock, neblock)
    assert(Blosc.decode(bb.array()).sameElements(data))
  }

  test("split-without-shuffle frame decodes (dont-split bit is the authority)") {
    // c-blosc's split decision is independent of shuffling: an lz4
    // frame with shuffle off can still split into typesize streams
    // (bit4 = 0). Streams are then consecutive raw lanes of the block.
    val n = 512
    val data = Array.tabulate(n)(i => ((i / 16) % 7).toByte)
    val typesize = 2
    val neblock = n / typesize
    val lz = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val streams = (0 until typesize).map { s =>
      val buf = new Array[Byte](lz.maxCompressedLength(neblock))
      val len = lz.compress(data, s * neblock, neblock, buf, 0, buf.length)
      java.util.Arrays.copyOf(buf, len)
    }
    val headerLen = 16 + 4
    val total = headerLen + streams.map(4 + _.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(2.toByte).put(1.toByte)
      .put((1 << 5).toByte) // lz4, NO shuffle, split (bit4 clear)
      .put(typesize.toByte)
    bb.putInt(n).putInt(n).putInt(total)
    bb.putInt(headerLen)
    streams.foreach { st => bb.putInt(st.length); bb.put(st) }
    assert(Blosc.decode(bb.array()).sameElements(data))
  }

  test("corrupted frames fail loudly, never return wrong-sized data") {
    val r = new scala.util.Random(1234)
    val good = Blosc.encode(patterned(4096), 4, "lz4", shuffle = true)
    var checked = 0
    (0 until 300).foreach { _ =>
      val frame = good.clone()
      // flip 1-4 random bytes anywhere in the frame
      (0 to r.nextInt(4)).foreach { _ =>
        frame(r.nextInt(frame.length)) = r.nextInt(256).toByte
      }
      try {
        val out = Blosc.decode(frame)
        // a decode that survives corruption must still honor nbytes
        val nbytes = java.nio.ByteBuffer.wrap(frame)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(4)
        assert(out.length == nbytes)
        checked += 1
      } catch {
        case _: IllegalArgumentException | _: IllegalStateException |
             _: net.jpountz.lz4.LZ4Exception |
             _: ArrayIndexOutOfBoundsException => checked += 1
      }
    }
    assert(checked == 300)
  }

  test("hand-assembled blosclz stream: literals, near match, RLE, ext length") {
    // Instruction stream written straight from the public blosclz
    // format (c-blosc 1.x): literal run of 4 ("abcd"), a length-4
    // match at distance 4 (copies "abcd" again), a length-10
    // distance-1 match (RLE of 'd', extended-length form), then a
    // trailing literal run ("xy").
    val stream = Array[Byte](
      3, 'a', 'b', 'c', 'd',          // run of 4 literals
      (2 << 5).toByte, 3,             // match: len code 2 (=4), dist 3+1
      ((7 << 5) | 0).toByte, 1, 0,    // match: ext len 9+1=10, dist 0+1
      1, 'x', 'y')                    // run of 2 literals
    val expect = "abcd".getBytes ++ "abcd".getBytes ++
      Array.fill(10)('d'.toByte) ++ "xy".getBytes
    val out = new Array[Byte](expect.length)
    Blosc.blosclzDecompress(stream, 0, stream.length, out, 0, out.length)
    assert(out.sameElements(expect))
    // wrapped as a full frame (dont-split, no shuffle, codec id 0)
    val headerLen = 16 + 4
    val total = headerLen + 4 + stream.length
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(2.toByte).put(1.toByte)
      .put(0x10.toByte) // codec id 0 = blosclz, dont-split
      .put(1.toByte)
    bb.putInt(expect.length).putInt(expect.length).putInt(total)
    bb.putInt(headerLen)
    bb.putInt(stream.length); bb.put(stream)
    assert(Blosc.decode(bb.array()).sameElements(expect))
  }

  test("hand-assembled blosclz far match (distance > 8192)") {
    // 8300 literal bytes, then a length-8 match back to offset 0 —
    // distance 8300 needs the far form: high offset bits all set,
    // offset byte 255, then two explicit bytes carrying dist - 8192.
    val lit = Array.tabulate(8300)(i => ((i * 37) % 251).toByte)
    val body = new java.io.ByteArrayOutputStream()
    lit.grouped(32).foreach { run =>
      body.write(run.length - 1); body.write(run, 0, run.length)
    }
    val far = 8300 - 8192
    body.write((6 << 5) | 31) // len code 6 (= length 8), high bits set
    body.write(255)
    body.write((far >> 8) & 0xff)
    body.write(far & 0xff)
    val stream = body.toByteArray
    val expect = lit ++ lit.take(8)
    val out = new Array[Byte](expect.length)
    Blosc.blosclzDecompress(stream, 0, stream.length, out, 0, out.length)
    assert(out.sameElements(expect))
  }

  test("blosclz compressor emits far matches that roundtrip") {
    // incompressible noise, then an exact repeat of its head at
    // distance 10000: the only matches the compressor can find are far.
    val noise = randomBytes(10000, seed = 42)
    val data = noise ++ noise.take(600)
    val enc = Blosc.blosclzCompress(data, 0, data.length)
    assert(enc != null, "the 600-byte far repeat must compress")
    val out = new Array[Byte](data.length)
    Blosc.blosclzDecompress(enc, 0, enc.length, out, 0, out.length)
    assert(out.sameElements(data))
  }

  test("bit-shuffle transform matches the hand-computed bit-plane layout") {
    // 8 uint16 elements. Lane 0 (low bytes): element i has ONLY bit i
    // set → bit-row k must read 1<<k (bit k set exactly for element k,
    // LSB = element 0). Lane 1 (high bytes): 0xFF for even elements →
    // every bit-row reads 0b01010101 = 0x55. Rows are lane-major:
    // lane 0's 8 rows then lane 1's.
    val data = new Array[Byte](16)
    for (i <- 0 until 8) {
      data(2 * i) = (1 << i).toByte
      data(2 * i + 1) = if (i % 2 == 0) 0xFF.toByte else 0x00
    }
    val out = new Array[Byte](16)
    Blosc.bitShuffleBytes(2, data, 0, 16, out, 0)
    val expect = Array.tabulate(8)(k => (1 << k).toByte) ++
      Array.fill(8)(0x55.toByte)
    assert(out.toSeq == expect.toSeq)
    val back = new Array[Byte](16)
    Blosc.bitUnshuffle(2, out, 16, back, 0)
    assert(back.toSeq == data.toSeq)
  }

  test("bit-shuffle matches an independent bit-by-bit reference transform") {
    // Cross-implementation pin (no numcodecs frames are obtainable in
    // this environment): a NAIVE transform written straight from the
    // published bitshuffle definition — "the i-th bits of each element
    // are adjacent", lane-major rows, LSB-first packing — with no 8x8
    // transpose, no word tricks. Output byte (l*8+k)*rowLen + g packs
    // bit k of lane-l bytes of elements 8g..8g+7, element 8g+r at bit
    // position r; the non-multiple-of-8 tail copies verbatim. A
    // systematic layout divergence in the production kernel (bit-row
    // order, intra-byte order, lane order) would have to be replicated
    // here independently to slip through.
    def naive(typesize: Int, src: Array[Byte]): Array[Byte] = {
      val len = src.length
      val nelem = len / typesize
      val ne8 = nelem - nelem % 8
      val rowLen = ne8 / 8
      val dest = new Array[Byte](len)
      for (l <- 0 until typesize; k <- 0 until 8; e <- 0 until ne8) {
        if (((src(e * typesize + l) >> k) & 1) != 0) {
          val at = (l * 8 + k) * rowLen + e / 8
          dest(at) = (dest(at) | (1 << (e % 8))).toByte
        }
      }
      System.arraycopy(src, ne8 * typesize, dest, ne8 * typesize,
        len - ne8 * typesize)
      dest
    }
    for (typesize <- Seq(1, 2, 3, 4, 8); nelem <- Seq(8, 16, 21, 64, 1000)) {
      val len = nelem * typesize
      val data = randomBytes(len, seed = typesize * 7919 + nelem)
      val out = new Array[Byte](len)
      Blosc.bitShuffleBytes(typesize, data, 0, len, out, 0)
      assert(out.toSeq == naive(typesize, data).toSeq,
        s"production bitshuffle diverges from the reference layout " +
          s"(typesize=$typesize nelem=$nelem)")
    }
  }

  test("bit-shuffle inverse roundtrips incl. leftover elements and bytes") {
    for (typesize <- Seq(1, 2, 3, 4, 8);
         nelem <- Seq(0, 3, 8, 11, 16, 257)) {
      // +1 trailing byte when it fits: a partial element must copy through
      val len = nelem * typesize + (if (typesize > 1) 1 else 0)
      val data = randomBytes(len, seed = typesize * 1000 + nelem)
      val sh = new Array[Byte](len)
      Blosc.bitShuffleBytes(typesize, data, 0, len, sh, 0)
      val back = new Array[Byte](len)
      Blosc.bitUnshuffle(typesize, sh, len, back, 0)
      assert(back.toSeq == data.toSeq, s"typesize=$typesize nelem=$nelem")
      // non-multiple-of-8 tail elements must pass through VERBATIM
      val ne8 = nelem - nelem % 8
      assert(sh.drop(ne8 * typesize).toSeq == data.drop(ne8 * typesize).toSeq,
        s"leftover region must copy unchanged (typesize=$typesize nelem=$nelem)")
    }
  }

  for (cname <- Seq("lz4", "zstd", "zlib", "blosclz")) {
    test(s"bit-shuffled frames roundtrip ($cname)") {
      for (typesize <- Seq(1, 2, 4, 8); n <- Seq(0, 5, 256, 4096, 100000)) {
        val data = patterned(n)
        val enc = Blosc.encode(data, typesize, cname, bitShuffle = true)
        assert((enc(2) & 0x04) != 0 || (enc(2) & 0x02) != 0, // filter or memcpy
          s"bitshuffle flag missing (typesize=$typesize n=$n)")
        assert(Blosc.decode(enc).sameElements(data), s"typesize=$typesize n=$n")
      }
    }
  }

  test("decodes a hand-assembled bit-shuffled frame (not our encoder's shape)") {
    // single block, stored stream whose payload is the hand-computed
    // bit-plane transform — proves the DECODER applies the inverse
    // exactly where the container says, with no help from our encoder
    val n = 64
    val typesize = 4
    val data = patterned(n)
    val sh = new Array[Byte](n)
    Blosc.bitShuffleBytes(typesize, data, 0, n, sh, 0)
    val headerLen = 16 + 4
    val total = headerLen + 4 + n
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(2.toByte).put(1.toByte)
      .put(((1 << 5) | 0x04 | 0x10).toByte) // lz4, bit-shuffle, dont-split
      .put(typesize.toByte)
    bb.putInt(n).putInt(n).putInt(total)
    bb.putInt(headerLen)
    bb.putInt(n); bb.put(sh) // stored stream (cbytes == neblock)
    assert(Blosc.decode(bb.array()).sameElements(data))
  }
}
