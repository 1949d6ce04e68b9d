package graft.ndarray

import com.esotericsoftware.kryo.{Kryo, Serializer}
import com.esotericsoftware.kryo.io.{Input, Output}

/** Byte-lane shuffle, the filter Blosc applies before compression
  * (numcodecs `shuffle=SHUFFLE`) and the payload order of the
  * [[NdArraySerializer]] wire format. The shuffled image of `len` bytes
  * of `typesize`-wide elements stores byte lane j of every element
  * contiguously, lane after lane; the `len % typesize` bytes of a
  * trailing partial element follow unchanged. For float data the lanes
  * holding sign, exponent and high mantissa bits are long runs of few
  * distinct values, which byte compressors (LZ4, zstd) find far more
  * repetitive than interleaved elements. */
object ByteLanes {

  /** Byte shuffle src[srcOff, srcOff+len) into dest[destOff, destOff+len). */
  def shuffle(typesize: Int, src: Array[Byte], srcOff: Int, len: Int,
              dest: Array[Byte], destOff: Int): Unit = {
    val nelem = len / typesize
    var j = 0
    while (j < typesize) {
      var s = srcOff + j
      var d = destOff + j * nelem
      val end = d + nelem
      while (d < end) { dest(d) = src(s); s += typesize; d += 1 }
      j += 1
    }
    val planar = nelem * typesize
    System.arraycopy(src, srcOff + planar, dest, destOff + planar, len - planar)
  }

  /** Inverse of [[shuffle]]: image src[srcOff, srcOff+len) → dest[destOff, destOff+len). */
  def unshuffle(typesize: Int, src: Array[Byte], srcOff: Int, len: Int,
                dest: Array[Byte], destOff: Int): Unit = {
    val nelem = len / typesize
    var j = 0
    while (j < typesize) {
      var s = srcOff + j * nelem
      var d = destOff + j
      val end = s + nelem
      while (s < end) { dest(d) = src(s); s += 1; d += typesize }
      j += 1
    }
    val planar = nelem * typesize
    System.arraycopy(src, srcOff + planar, dest, destOff + planar, len - planar)
  }

  /** Write the shuffled image of `src` to `out`. */
  def write(out: Output, typesize: Int, src: Array[Byte]): Unit =
    if (typesize == 1) out.writeBytes(src)
    else {
      val image = new Array[Byte](src.length)
      shuffle(typesize, src, 0, src.length, image, 0)
      out.writeBytes(image)
    }

  /** Read a shuffled image of `dest.length` bytes from `in` into dest. */
  def read(in: Input, typesize: Int, dest: Array[Byte]): Unit =
    if (typesize == 1) in.readBytes(dest)
    else unshuffle(typesize, in.readBytes(dest.length), 0, dest.length, dest, 0)
}

/** Kryo wire format of [[NdArray]], picked by every Kryo instance through
  * the `@DefaultSerializer` annotation on the class (registered or not):
  * a dtype code byte, the rank and extents as varints, then the payload
  * in [[ByteLanes]] order. The payload length follows from the shape.
  * Reads restore the data bit for bit. Chunk payloads cross Spark
  * shuffles inside Kryo-encoded Dataset rows, which Spark's shuffle
  * codec (LZ4 by default) then compresses; on the float32 chunks of a
  * 117 MiB pancake-to-pencil rechunk the lane order cut shuffle bytes
  * from 169 to 99 MiB. The format never reaches a zarr store. */
final class NdArraySerializer extends Serializer[NdArray] {
  import NdArraySerializer.dtypes

  override def write(kryo: Kryo, out: Output, a: NdArray): Unit = {
    out.writeByte(dtypes.indexOf(a.dtype))
    out.writeVarInt(a.ndim, true)
    a.shape.foreach(out.writeVarInt(_, true))
    ByteLanes.write(out, a.dtype.itemsize, a.data)
  }

  override def read(kryo: Kryo, in: Input, cls: Class[NdArray]): NdArray = {
    val dtype = dtypes(in.readByte())
    val shape = Array.fill(in.readVarInt(true))(in.readVarInt(true))
    val a = NdArray.zeros(dtype, shape)
    ByteLanes.read(in, dtype.itemsize, a.data)
    a
  }
}

object NdArraySerializer {
  /** Wire codes: a dtype's index here. Append only. */
  private val dtypes: IndexedSeq[DType] = Vector(DType.F32, DType.F64,
    DType.I32, DType.I64, DType.I16, DType.I8, DType.U8, DType.Bool, DType.TimeNs)
}
