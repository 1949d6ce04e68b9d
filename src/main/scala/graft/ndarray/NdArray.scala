package graft.ndarray

import java.nio.{ByteBuffer, ByteOrder}

import com.esotericsoftware.kryo.DefaultSerializer

/** Element dtype of an [[NdArray]]. Encodes the Zarr v2 dtype string and
  * the itemsize. `TimeNs` is datetime64[ns] stored as little-endian i64
  * (the reference's time coordinates, e.g. xarray_beam test_util.py:96).
  */
sealed abstract class DType(val zarr: String, val itemsize: Int) extends Serializable
object DType {
  case object F32 extends DType("<f4", 4)
  case object F64 extends DType("<f8", 8)
  case object I32 extends DType("<i4", 4)
  case object I64 extends DType("<i8", 8)
  case object I16 extends DType("<i2", 2)
  case object I8 extends DType("|i1", 1)
  case object U8 extends DType("|u1", 1)
  case object Bool extends DType("|b1", 1)
  case object TimeNs extends DType("<M8[ns]", 8)

  def fromZarr(s: String): DType = s match {
    case "<f4" => F32
    case "<f8" => F64
    case "<i4" => I32
    case "<i8" => I64
    case "<i2" => I16
    case "|i1" | "<i1" => I8
    case "|u1" | "<u1" => U8
    case "|b1" | "<b1" => Bool
    case "<M8[ns]" => TimeNs
    case other => throw new IllegalArgumentException(s"unsupported dtype: $other")
  }
}

/** A dense, C-order (row-major), little-endian n-dimensional array over a
  * flat byte buffer — the JVM stand-in for the NumPy arrays inside the
  * reference's chunks (xarray_beam core.py:72-76: chunks are fully
  * computed dense arrays). Always contiguous; ops materialize.
  *
  * Float reads/writes go through a Double view, integer ones through a
  * Long view; conversions are exact for every value the engine handles.
  *
  * Kryo (every chunk-engine shuffle and persisted chunk Dataset) writes
  * it in the byte-lane wire format of [[NdArraySerializer]].
  */
@DefaultSerializer(classOf[NdArraySerializer])
final case class NdArray(dtype: DType, shape: Array[Int], data: Array[Byte])
    extends Serializable {

  def ndim: Int = shape.length
  def size: Long = {
    var n = 1L
    var i = 0
    while (i < shape.length) { n *= shape(i); i += 1 }
    n
  }
  def nbytes: Long = size * dtype.itemsize

  require(nbytes == data.length,
    s"data length ${data.length} != shape ${shape.mkString("x")} * ${dtype.itemsize}")

  private def buf: ByteBuffer = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)

  /** C-order strides in elements. */
  def strides: Array[Long] = {
    val st = new Array[Long](ndim)
    var acc = 1L
    var i = ndim - 1
    while (i >= 0) { st(i) = acc; acc *= shape(i); i -= 1 }
    st
  }

  def getDouble(flat: Long): Double = dtype match {
    case DType.F32 => buf.getFloat((flat * 4).toInt).toDouble
    case DType.F64 => buf.getDouble((flat * 8).toInt)
    case DType.I32 => buf.getInt((flat * 4).toInt).toDouble
    case DType.I64 | DType.TimeNs => buf.getLong((flat * 8).toInt).toDouble
    case DType.I16 => buf.getShort((flat * 2).toInt).toDouble
    case DType.I8 => data(flat.toInt).toDouble
    case DType.U8 => (data(flat.toInt) & 0xff).toDouble
    case DType.Bool => if (data(flat.toInt) != 0) 1.0 else 0.0
  }

  def getLong(flat: Long): Long = dtype match {
    case DType.F32 => buf.getFloat((flat * 4).toInt).toLong
    case DType.F64 => buf.getDouble((flat * 8).toInt).toLong
    case DType.I32 => buf.getInt((flat * 4).toInt).toLong
    case DType.I64 | DType.TimeNs => buf.getLong((flat * 8).toInt)
    case DType.I16 => buf.getShort((flat * 2).toInt).toLong
    case DType.I8 => data(flat.toInt).toLong
    case DType.U8 => (data(flat.toInt) & 0xff).toLong
    case DType.Bool => if (data(flat.toInt) != 0) 1L else 0L
  }

  def setDouble(flat: Long, v: Double): Unit = dtype match {
    case DType.F32 => buf.putFloat((flat * 4).toInt, v.toFloat)
    case DType.F64 => buf.putDouble((flat * 8).toInt, v)
    case DType.I32 => buf.putInt((flat * 4).toInt, v.toInt)
    case DType.I64 | DType.TimeNs => buf.putLong((flat * 8).toInt, v.toLong)
    case DType.I16 => buf.putShort((flat * 2).toInt, v.toShort)
    case DType.I8 => data(flat.toInt) = v.toByte
    case DType.U8 => data(flat.toInt) = (v.toLong & 0xff).toByte
    case DType.Bool => data(flat.toInt) = if (v != 0.0) 1 else 0
  }

  def setLong(flat: Long, v: Long): Unit = dtype match {
    case DType.F32 => buf.putFloat((flat * 4).toInt, v.toFloat)
    case DType.F64 => buf.putDouble((flat * 8).toInt, v.toDouble)
    case DType.I32 => buf.putInt((flat * 4).toInt, v.toInt)
    case DType.I64 | DType.TimeNs => buf.putLong((flat * 8).toInt, v)
    case DType.I16 => buf.putShort((flat * 2).toInt, v.toShort)
    case DType.I8 => data(flat.toInt) = v.toByte
    case DType.U8 => data(flat.toInt) = (v & 0xff).toByte
    case DType.Bool => data(flat.toInt) = if (v != 0L) 1 else 0
  }

  /** Extract the hyper-rectangle [starts(d), starts(d)+outShape(d)) per dim. */
  def slice(starts: Array[Int], outShape: Array[Int]): NdArray = {
    require(starts.length == ndim && outShape.length == ndim)
    val out = NdArray.zeros(dtype, outShape)
    val isz = dtype.itemsize
    if (out.size == 0) return out
    // copy contiguous runs along the last axis
    val lastLen = if (ndim == 0) 1 else outShape(ndim - 1)
    val outer = out.size / math.max(lastLen, 1)
    val idx = new Array[Int](math.max(ndim - 1, 0))
    val srcStrides = strides
    val dstStrides = out.strides
    var o = 0L
    while (o < outer) {
      var srcFlat = 0L
      var dstFlat = 0L
      var d = 0
      while (d < ndim - 1) {
        srcFlat += (starts(d) + idx(d)) * srcStrides(d)
        dstFlat += idx(d) * dstStrides(d)
        d += 1
      }
      if (ndim > 0) srcFlat += starts(ndim - 1) * srcStrides(ndim - 1)
      System.arraycopy(data, (srcFlat * isz).toInt, out.data, (dstFlat * isz).toInt,
        lastLen * isz)
      // increment odometer over the outer dims
      var k = ndim - 2
      var carry = true
      while (k >= 0 && carry) {
        idx(k) += 1
        if (idx(k) == outShape(k)) { idx(k) = 0; k -= 1 } else carry = false
      }
      o += 1
    }
    out
  }

  /** Write `src` into this array at offset `starts` (inverse of slice). */
  def insert(starts: Array[Int], src: NdArray): Unit = {
    require(src.dtype == dtype && src.ndim == ndim)
    val isz = dtype.itemsize
    if (src.size == 0) return
    val lastLen = if (ndim == 0) 1 else src.shape(ndim - 1)
    val outer = src.size / math.max(lastLen, 1)
    val idx = new Array[Int](math.max(ndim - 1, 0))
    val dstStrides = strides
    val srcStrides = src.strides
    var o = 0L
    while (o < outer) {
      var dstFlat = 0L
      var srcFlat = 0L
      var d = 0
      while (d < ndim - 1) {
        dstFlat += (starts(d) + idx(d)) * dstStrides(d)
        srcFlat += idx(d) * srcStrides(d)
        d += 1
      }
      if (ndim > 0) dstFlat += starts(ndim - 1) * dstStrides(ndim - 1)
      System.arraycopy(src.data, (srcFlat * isz).toInt, data, (dstFlat * isz).toInt,
        lastLen * isz)
      var k = ndim - 2
      var carry = true
      while (k >= 0 && carry) {
        idx(k) += 1
        if (idx(k) == src.shape(k)) { idx(k) = 0; k -= 1 } else carry = false
      }
      o += 1
    }
  }

  /** Permute axes (materializing; like np.transpose + ascontiguousarray). */
  def transpose(perm: Array[Int]): NdArray = {
    require(perm.sorted.sameElements(Array.range(0, ndim)))
    val outShape = perm.map(shape)
    val out = NdArray.zeros(dtype, outShape)
    val srcStrides = strides
    val n = size
    val idx = new Array[Int](ndim)
    var dst = 0L
    while (dst < n) {
      var src = 0L
      var d = 0
      while (d < ndim) { src += idx(d) * srcStrides(perm(d)); d += 1 }
      out.setLongBits(dst, getLongBits(src))
      var k = ndim - 1
      var carry = true
      while (k >= 0 && carry) {
        idx(k) += 1
        if (idx(k) == outShape(k)) { idx(k) = 0; k -= 1 } else carry = false
      }
      dst += 1
    }
    out
  }

  /** Raw element bits as long (for exact moves regardless of dtype). */
  private def getLongBits(flat: Long): Long = dtype.itemsize match {
    case 1 => buf.get(flat.toInt).toLong
    case 2 => buf.getShort((flat * 2).toInt).toLong
    case 4 => buf.getInt((flat * 4).toInt).toLong
    case 8 => buf.getLong((flat * 8).toInt)
  }
  private[ndarray] def setLongBits(flat: Long, bits: Long): Unit = dtype.itemsize match {
    case 1 => buf.put(flat.toInt, bits.toByte)
    case 2 => buf.putShort((flat * 2).toInt, bits.toShort)
    case 4 => buf.putInt((flat * 4).toInt, bits.toInt)
    case 8 => buf.putLong((flat * 8).toInt, bits)
  }

  /** Sum + not-NaN count along the given axes (ascending order), in
    * float64 — the per-chunk partial aggregate of the reference's Mean
    * (combiners.py:38-64). skipna treats NaN as (0, not counted). */
  def sumCount(axes: Array[Int], skipna: Boolean): (NdArray, NdArray) = {
    val keep = Array.range(0, ndim).filterNot(axes.contains)
    val outShape = keep.map(shape)
    val sums = NdArray.zeros(DType.F64, outShape)
    val counts = NdArray.zeros(DType.F64, outShape)
    val outStrides = sums.strides
    val n = size
    val idx = new Array[Int](ndim)
    var flat = 0L
    while (flat < n) {
      var outFlat = 0L
      var k = 0
      while (k < keep.length) { outFlat += idx(keep(k)) * outStrides(k); k += 1 }
      val v = getDouble(flat)
      if (!skipna || !v.isNaN) {
        sums.setDouble(outFlat, sums.getDouble(outFlat) + v)
        counts.setDouble(outFlat, counts.getDouble(outFlat) + 1.0)
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    (sums, counts)
  }

  /** Product along the given axes, in float64 — the per-chunk partial
    * of a distributed prod (xarray `ds.prod`). Under skipna NaN
    * elements are skipped; an all-NaN (or empty) cell yields 1, the
    * multiplicative identity, as numpy's nanprod does. */
  def prodAlong(axes: Array[Int], skipna: Boolean): NdArray = {
    val keep = Array.range(0, ndim).filterNot(axes.contains)
    val out = NdArray.fill(DType.F64, keep.map(shape), 1.0)
    val outStrides = out.strides
    val n = size
    val idx = new Array[Int](ndim)
    var flat = 0L
    while (flat < n) {
      var outFlat = 0L
      var k = 0
      while (k < keep.length) { outFlat += idx(keep(k)) * outStrides(k); k += 1 }
      val v = getDouble(flat)
      if (!skipna || !v.isNaN)
        out.setDouble(outFlat, out.getDouble(outFlat) * v)
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Weighted sum + weight total along the given axes, in float64 —
    * the per-chunk partial of a weighted mean (xarray
    * `ds.weighted(w).mean()`): each element weighs the product of its
    * per-axis weights (`axisWeights(i)` aligned to `axes(i)`; null =
    * weight 1). Under skipna a NaN element contributes neither to the
    * weighted sum nor to the weight total — xarray's masked-weight
    * semantics. */
  def weightedSumCount(axes: Array[Int], axisWeights: Array[Array[Double]],
                       skipna: Boolean): (NdArray, NdArray) = {
    require(axisWeights.length == axes.length,
      s"need one weight array (or null) per reduced axis")
    axes.zip(axisWeights).foreach { case (ax, w) =>
      require(w == null || w.length == shape(ax),
        s"weights for axis $ax have length ${w.length}, extent is ${shape(ax)}")
    }
    val keep = Array.range(0, ndim).filterNot(axes.contains)
    val outShape = keep.map(shape)
    val sums = NdArray.zeros(DType.F64, outShape)
    val wsums = NdArray.zeros(DType.F64, outShape)
    val outStrides = sums.strides
    val n = size
    val idx = new Array[Int](ndim)
    var flat = 0L
    while (flat < n) {
      var outFlat = 0L
      var k = 0
      while (k < keep.length) { outFlat += idx(keep(k)) * outStrides(k); k += 1 }
      val v = getDouble(flat)
      if (!skipna || !v.isNaN) {
        var w = 1.0
        var a = 0
        while (a < axes.length) {
          if (axisWeights(a) != null) w *= axisWeights(a)(idx(axes(a)))
          a += 1
        }
        sums.setDouble(outFlat, sums.getDouble(outFlat) + w * v)
        wsums.setDouble(outFlat, wsums.getDouble(outFlat) + w)
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    (sums, wsums)
  }

  /** Sum + sum-of-squares + not-NaN count along the given axes, in
    * float64 — the per-chunk partial for variance/std (exact for
    * integer-valued data: both moments stay within 2^53). */
  def sumSqCount(axes: Array[Int], skipna: Boolean): (NdArray, NdArray, NdArray) = {
    val keep = Array.range(0, ndim).filterNot(axes.contains)
    val outShape = keep.map(shape)
    val sums = NdArray.zeros(DType.F64, outShape)
    val sqs = NdArray.zeros(DType.F64, outShape)
    val counts = NdArray.zeros(DType.F64, outShape)
    val n = size
    val outStrides = sums.strides
    val idx = new Array[Int](ndim)
    var flat = 0L
    while (flat < n) {
      var outFlat = 0L
      var k = 0
      while (k < keep.length) { outFlat += idx(keep(k)) * outStrides(k); k += 1 }
      val v = getDouble(flat)
      if (!skipna || !v.isNaN) {
        sums.setDouble(outFlat, sums.getDouble(outFlat) + v)
        sqs.setDouble(outFlat, sqs.getDouble(outFlat) + v * v)
        counts.setDouble(outFlat, counts.getDouble(outFlat) + 1.0)
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    (sums, sqs, counts)
  }

  /** Joint moments of this array (x) and `other` (y) along the given
    * axes, in float64 — the per-chunk partial of a distributed
    * covariance/correlation (xarray `xr.cov`/`xr.corr`). Returns
    * [n, Σx, Σy, Σxy, Σx², Σy²]. Under skipna only PAIRWISE-complete
    * cells contribute (both values non-NaN — xarray's alignment
    * semantics); without it any NaN poisons every moment of its cell
    * via the raw sums. Exact for integer-valued data within 2^53. */
  def pairMoments(other: NdArray, axes: Array[Int],
                  skipna: Boolean): Array[NdArray] = {
    require(java.util.Arrays.equals(shape, other.shape),
      s"pairMoments needs equal shapes, got ${shape.toSeq} vs ${other.shape.toSeq}")
    val keep = Array.range(0, ndim).filterNot(axes.contains)
    val outShape = keep.map(shape)
    val out = Array.fill(6)(NdArray.zeros(DType.F64, outShape))
    val outStrides = out(0).strides
    val n = size
    val idx = new Array[Int](ndim)
    var flat = 0L
    while (flat < n) {
      var outFlat = 0L
      var k = 0
      while (k < keep.length) { outFlat += idx(keep(k)) * outStrides(k); k += 1 }
      val x = getDouble(flat)
      val y = other.getDouble(flat)
      if (!skipna || (!x.isNaN && !y.isNaN)) {
        out(0).setDouble(outFlat, out(0).getDouble(outFlat) + 1.0)
        out(1).setDouble(outFlat, out(1).getDouble(outFlat) + x)
        out(2).setDouble(outFlat, out(2).getDouble(outFlat) + y)
        out(3).setDouble(outFlat, out(3).getDouble(outFlat) + x * y)
        out(4).setDouble(outFlat, out(4).getDouble(outFlat) + x * x)
        out(5).setDouble(outFlat, out(5).getDouble(outFlat) + y * y)
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Weighted first and second moments along the given axes, in
    * float64 — the per-chunk partial of weighted sum/variance (xarray
    * `ds.weighted(w).sum()/.var()`): returns (Σw·v, Σw·v², Σw) with
    * element weights as in [[weightedSumCount]]. Under skipna a NaN
    * element contributes to none of the three — the masked-weight
    * semantics. */
  def weightedMoments(axes: Array[Int], axisWeights: Array[Array[Double]],
                      skipna: Boolean): (NdArray, NdArray, NdArray) = {
    require(axisWeights.length == axes.length,
      s"need one weight array (or null) per reduced axis")
    axes.zip(axisWeights).foreach { case (ax, w) =>
      require(w == null || w.length == shape(ax),
        s"weights for axis $ax have length ${w.length}, extent is ${shape(ax)}")
    }
    val keep = Array.range(0, ndim).filterNot(axes.contains)
    val outShape = keep.map(shape)
    val sums = NdArray.zeros(DType.F64, outShape)
    val sqs = NdArray.zeros(DType.F64, outShape)
    val wsums = NdArray.zeros(DType.F64, outShape)
    val outStrides = sums.strides
    val n = size
    val idx = new Array[Int](ndim)
    var flat = 0L
    while (flat < n) {
      var outFlat = 0L
      var k = 0
      while (k < keep.length) { outFlat += idx(keep(k)) * outStrides(k); k += 1 }
      val v = getDouble(flat)
      if (!skipna || !v.isNaN) {
        var w = 1.0
        var a = 0
        while (a < axes.length) {
          if (axisWeights(a) != null) w *= axisWeights(a)(idx(axes(a)))
          a += 1
        }
        sums.setDouble(outFlat, sums.getDouble(outFlat) + w * v)
        sqs.setDouble(outFlat, sqs.getDouble(outFlat) + w * v * v)
        wsums.setDouble(outFlat, wsums.getDouble(outFlat) + w)
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    (sums, sqs, wsums)
  }

  /** Min or max along the given axes in float64, NaN-aware: with skipna
    * NaN inputs are ignored (all-NaN → NaN); without it any NaN poisons
    * its output cell — xarray's min/max semantics. */
  def extreme(axes: Array[Int], skipna: Boolean, isMin: Boolean): NdArray = {
    val keep = Array.range(0, ndim).filterNot(axes.contains)
    val outShape = keep.map(shape)
    val out = NdArray.fill(DType.F64, outShape, Double.NaN)
    val seen = new Array[Boolean](out.size.toInt)
    val poisoned = new Array[Boolean](out.size.toInt)
    val n = size
    val outStrides = out.strides
    val idx = new Array[Int](ndim)
    var flat = 0L
    while (flat < n) {
      var outFlat = 0L
      var k = 0
      while (k < keep.length) { outFlat += idx(keep(k)) * outStrides(k); k += 1 }
      val v = getDouble(flat)
      val o = outFlat.toInt
      if (v.isNaN) { if (!skipna) poisoned(o) = true }
      else if (!poisoned(o)) {
        val cur = out.getDouble(outFlat)
        if (!seen(o) || (if (isMin) v < cur else v > cur))
          out.setDouble(outFlat, v)
        seen(o) = true
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    if (!skipna) {
      var i = 0
      while (i < poisoned.length) {
        if (poisoned(i)) out.setDouble(i.toLong, Double.NaN)
        i += 1
      }
    }
    out
  }

  /** Average-tie ranks along `axis` (xarray `Dataset.rank(dim)`,
    * bottleneck rankdata semantics): each element's 1-based rank among
    * its lane's values, ties sharing the mean of their positional
    * ranks (exact halves). NaN ranks NaN and is excluded from the
    * ranking. Output shape equals input shape. */
  def rankAlong(axis: Int): NdArray = {
    require(axis >= 0 && axis < ndim, s"axis $axis out of range")
    val m = shape(axis)
    val out = NdArray.zeros(DType.F64, shape)
    val axStride = strides(axis)
    val idx = new Array[Int](ndim)
    val vals = new Array[Double](m)
    var done = false
    while (!done) {
      var base = 0L
      var d = 0
      while (d < ndim) { base += idx(d).toLong * strides(d); d += 1 }
      var j = 0
      while (j < m) { vals(j) = getDouble(base + j.toLong * axStride); j += 1 }
      val sorted = Array.range(0, m).filter(jj => !vals(jj).isNaN).sortBy(vals)
      var p = 0
      while (p < sorted.length) {
        var q = p
        while (q + 1 < sorted.length && vals(sorted(q + 1)) == vals(sorted(p))) q += 1
        val avg = (p + q) / 2.0 + 1.0 // mean of the run's 1-based ranks
        var r = p
        while (r <= q) { out.setDouble(base + sorted(r).toLong * axStride, avg); r += 1 }
        p = q + 1
      }
      var jj = 0
      while (jj < m) {
        if (vals(jj).isNaN)
          out.setDouble(base + jj.toLong * axStride, Double.NaN)
        jj += 1
      }
      // advance to the next lane (all dims but the ranked axis)
      var dd = ndim - 1
      var carry = true
      while (dd >= 0 && carry) {
        if (dd == axis) dd -= 1
        else {
          idx(dd) += 1
          if (idx(dd) == shape(dd)) { idx(dd) = 0; dd -= 1 } else carry = false
        }
      }
      if (carry) done = true
    }
    out
  }

  /** Per-lane nonlinear least squares for y = a·exp(b·t) along `axis`
    * (xarray `curvefit`'s canonical exponential model), t = the GLOBAL
    * integer position `globalStart + i`: Levenberg–Marquardt on the
    * 2-parameter model, seeded by the closed-form log-linear fit over
    * the lane's positive values (exact up to rounding when the data
    * sits on the curve — the zero-residual case converges in a step or
    * two). Deterministic: the solve is sequential per lane and the
    * caller hands each lane its full extent, so chunking cannot change
    * a bit. Lanes with fewer than 2 valid points (or NaN-poisoned
    * without skipna) emit NaN for both parameters. Returns
    * Seq(a, b) shaped as the kept dims. */
  /** `logAbscissa` turns the model into the POWER LAW a·(t+1)^b: since
    * a·u^b = a·exp(b·ln u), the power fit IS the exponential fit over
    * the transformed abscissa x = ln(t+1) — same solver, same seed,
    * same determinism (the 1-based shift keeps the abscissa positive;
    * the Zipf-over-rank convention). */
  def curvefitExpAlong(axis: Int, skipna: Boolean,
                       globalStart: Long = 0L,
                       logAbscissa: Boolean = false): Seq[NdArray] = {
    require(axis >= 0 && axis < ndim, s"axis $axis out of range")
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val laneShape = keep.map(shape)
    val aOut = NdArray.zeros(DType.F64, laneShape)
    val bOut = NdArray.zeros(DType.F64, laneShape)
    val nT = shape(axis)
    val str = strides
    val axStride = str(axis)
    val idx = new Array[Int](ndim)
    val tv = new Array[Double](nT)
    val yv = new Array[Double](nT)
    var lane = 0L
    var done = false
    while (!done) {
      var base = 0L
      var d = 0
      while (d < ndim) { base += idx(d).toLong * str(d); d += 1 }
      var m = 0
      var poisoned = false
      var j = 0
      while (j < nT) {
        val y = getDouble(base + j.toLong * axStride)
        if (!y.isNaN) {
          val g = (globalStart + j).toDouble
          tv(m) = if (logAbscissa) math.log(g + 1.0) else g
          yv(m) = y
          m += 1
        }
        else if (!skipna) poisoned = true
        j += 1
      }
      val (pa, pb) =
        if (poisoned || m < 2) (Double.NaN, Double.NaN)
        else NdArray.fitExp(tv, yv, m)
      aOut.setDouble(lane, pa)
      bOut.setDouble(lane, pb)
      lane += 1
      var dd = ndim - 1
      var carry = true
      while (dd >= 0 && carry) {
        if (dd == axis) dd -= 1
        else {
          idx(dd) += 1
          if (idx(dd) == shape(dd)) { idx(dd) = 0; dd -= 1 } else carry = false
        }
      }
      if (carry) done = true
    }
    Seq(aOut, bOut)
  }

  /** Per-lane LOGISTIC fit y = L/(1+exp(-k·(t-t0))) along `axis`
    * ([[NdArray.fitLogistic]] per lane, t = globalStart + i) — the
    * same lane walk, skipna/poison rules, and determinism contract as
    * [[curvefitExpAlong]]. Lanes with fewer than 3 valid points emit
    * the NaN triple. Returns Seq(L, k, t0) shaped as the kept dims. */
  def curvefitLogisticAlong(axis: Int, skipna: Boolean,
                            globalStart: Long = 0L): Seq[NdArray] = {
    require(axis >= 0 && axis < ndim, s"axis $axis out of range")
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val laneShape = keep.map(shape)
    val lOut = NdArray.zeros(DType.F64, laneShape)
    val kOut = NdArray.zeros(DType.F64, laneShape)
    val tOut = NdArray.zeros(DType.F64, laneShape)
    val nT = shape(axis)
    val str = strides
    val axStride = str(axis)
    val idx = new Array[Int](ndim)
    val tv = new Array[Double](nT)
    val yv = new Array[Double](nT)
    var lane = 0L
    var done = false
    while (!done) {
      var base = 0L
      var d = 0
      while (d < ndim) { base += idx(d).toLong * str(d); d += 1 }
      var m = 0
      var poisoned = false
      var j = 0
      while (j < nT) {
        val y = getDouble(base + j.toLong * axStride)
        if (!y.isNaN) { tv(m) = (globalStart + j).toDouble; yv(m) = y; m += 1 }
        else if (!skipna) poisoned = true
        j += 1
      }
      val (pl, pk, pt) =
        if (poisoned || m < 3) (Double.NaN, Double.NaN, Double.NaN)
        else NdArray.fitLogistic(tv, yv, m)
      lOut.setDouble(lane, pl)
      kOut.setDouble(lane, pk)
      tOut.setDouble(lane, pt)
      lane += 1
      var dd = ndim - 1
      var carry = true
      while (dd >= 0 && carry) {
        if (dd == axis) dd -= 1
        else {
          idx(dd) += 1
          if (idx(dd) == shape(dd)) { idx(dd) = 0; dd -= 1 } else carry = false
        }
      }
      if (carry) done = true
    }
    Seq(lOut, kOut, tOut)
  }

  /** Per-lane GAUSSIAN peak fit y = a·exp(-(t-mu)²/(2·sigma²)) along
    * `axis` ([[NdArray.fitGaussian]] per lane, t = globalStart + i) —
    * the same lane walk, skipna/poison rules, and determinism contract
    * as [[curvefitExpAlong]]. Lanes with fewer than 3 valid points (or
    * no positive values) emit the NaN triple. Returns Seq(a, mu,
    * sigma) shaped as the kept dims. */
  def curvefitGaussianAlong(axis: Int, skipna: Boolean,
                            globalStart: Long = 0L): Seq[NdArray] = {
    require(axis >= 0 && axis < ndim, s"axis $axis out of range")
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val laneShape = keep.map(shape)
    val aOut = NdArray.zeros(DType.F64, laneShape)
    val mOut = NdArray.zeros(DType.F64, laneShape)
    val sOut = NdArray.zeros(DType.F64, laneShape)
    val nT = shape(axis)
    val str = strides
    val axStride = str(axis)
    val idx = new Array[Int](ndim)
    val tv = new Array[Double](nT)
    val yv = new Array[Double](nT)
    var lane = 0L
    var done = false
    while (!done) {
      var base = 0L
      var d = 0
      while (d < ndim) { base += idx(d).toLong * str(d); d += 1 }
      var m = 0
      var poisoned = false
      var j = 0
      while (j < nT) {
        val y = getDouble(base + j.toLong * axStride)
        if (!y.isNaN) { tv(m) = (globalStart + j).toDouble; yv(m) = y; m += 1 }
        else if (!skipna) poisoned = true
        j += 1
      }
      val (pa, pm, ps) =
        if (poisoned || m < 3) (Double.NaN, Double.NaN, Double.NaN)
        else NdArray.fitGaussian(tv, yv, m)
      aOut.setDouble(lane, pa)
      mOut.setDouble(lane, pm)
      sOut.setDouble(lane, ps)
      lane += 1
      var dd = ndim - 1
      var carry = true
      while (dd >= 0 && carry) {
        if (dd == axis) dd -= 1
        else {
          idx(dd) += 1
          if (idx(dd) == shape(dd)) { idx(dd) = 0; dd -= 1 } else carry = false
        }
      }
      if (carry) done = true
    }
    Seq(aOut, mOut, sOut)
  }

  /** Median along the given axes — `quantileAlong(axes, 0.5, skipna)`. */
  def medianAlong(axes: Array[Int], skipna: Boolean): NdArray =
    quantileAlong(axes, 0.5, skipna)

  /** Quantile `q` ∈ [0, 1] along the given axes in float64 with linear
    * interpolation (numpy/xarray `interpolation='linear'`: rank
    * h = q·(m-1), result = v⌊h⌋ + (h-⌊h⌋)·(v⌊h⌋₊₁ - v⌊h⌋) — the same
    * formula DuckDB's quantile_cont evaluates, so integer-valued data
    * with dyadic q is bit-exact across engines). skipna drops NaNs per
    * cell (all-NaN → NaN); without it any NaN poisons the cell. The
    * reduced extent materializes per output cell, so callers bound
    * memory by keeping the non-reduced chunk small. */
  def quantileAlong(axes: Array[Int], q: Double, skipna: Boolean,
                    method: String = "linear"): NdArray =
    quantilesAlong(axes, Seq(q), skipna, method).head

  /** All of `qs` from ONE gather + sort per cell — what makes a
    * multi-quantile summary cost the same consolidation and sort as a
    * single quantile. `method` selects the order-statistic
    * interpolation at rank h = q·(m-1) (xarray/numpy `method=`):
    * "linear" (default), "lower" (v⌊h⌋), "higher" (v⌈h⌉), "nearest"
    * (v⌊h⌋ unless the fraction exceeds 0.5 — a deterministic tie rule,
    * where numpy delegates to round-half-even), "midpoint"
    * ((v⌊h⌋ + v⌈h⌉)/2). */
  def quantilesAlong(axes: Array[Int], qs: Seq[Double],
                     skipna: Boolean, method: String = "linear"): Seq[NdArray] = {
    qs.foreach(q =>
      require(q >= 0.0 && q <= 1.0, s"quantile must be in [0, 1], got $q"))
    require(Set("linear", "lower", "higher", "nearest", "midpoint")(method),
      s"unknown quantile method $method " +
        "(linear, lower, higher, nearest, midpoint)")
    val keep = Array.range(0, ndim).filterNot(axes.contains)
    val outShape = keep.map(shape)
    val outs = qs.map(_ => NdArray.zeros(DType.F64, outShape))
    val out = outs.head // strides/size template
    val redLen = axes.map(shape).product
    val buf = new Array[Double](math.max(redLen, 1))
    val lens = new Array[Int](out.size.toInt)
    val cells = Array.fill(out.size.toInt)(null: Array[Double])
    var o = 0
    while (o < cells.length) { cells(o) = new Array[Double](math.max(redLen, 1)); o += 1 }
    val n = size
    val outStrides = out.strides
    val idx = new Array[Int](ndim)
    var poisonedAny = false
    val poisoned = new Array[Boolean](out.size.toInt)
    var flat = 0L
    while (flat < n) {
      var outFlat = 0L
      var k = 0
      while (k < keep.length) { outFlat += idx(keep(k)) * outStrides(k); k += 1 }
      val oI = outFlat.toInt
      val v = getDouble(flat)
      if (v.isNaN) { if (!skipna) { poisoned(oI) = true; poisonedAny = true } }
      else { cells(oI)(lens(oI)) = v; lens(oI) += 1 }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    var i = 0
    while (i < cells.length) {
      val m = lens(i)
      if ((poisonedAny && poisoned(i)) || m == 0)
        outs.foreach(_.setDouble(i.toLong, Double.NaN))
      else {
        System.arraycopy(cells(i), 0, buf, 0, m)
        java.util.Arrays.sort(buf, 0, m)
        qs.zip(outs).foreach { case (q, o) =>
          val h = q * (m - 1)
          val lo = math.floor(h).toInt
          val frac = h - lo
          val hi = if (frac == 0.0) lo else lo + 1
          o.setDouble(i.toLong, method match {
            case "linear" =>
              if (frac == 0.0) buf(lo) else buf(lo) + frac * (buf(hi) - buf(lo))
            case "lower" => buf(lo)
            case "higher" => buf(hi)
            case "nearest" => // numpy: half-ties round to even index
              if (frac > 0.5 || (frac == 0.5 && (lo & 1) == 1)) buf(hi)
              else buf(lo)
            case "midpoint" => (buf(lo) + buf(hi)) / 2.0
          })
        }
      }
      i += 1
    }
    outs
  }

  /** Weighted quantile along `axes` via the inverted-CDF estimator —
    * the smallest value whose cumulative weight reaches q·W (numpy's
    * only weighted-quantile method, `np.quantile(..., weights=...,
    * method="inverted_cdf")`). `axisWeights(k)` is the weight vector
    * of `axes(k)` (callers pass full-extent cells, so local index IS
    * the weight index); a position's weight is the product across
    * reduced axes. Under skipna a NaN value drops with its weight,
    * otherwise it poisons its cell; zero-total cells yield NaN. */
  def weightedQuantileAlong(axes: Array[Int], q: Double,
                            axisWeights: Array[Array[Double]],
                            skipna: Boolean): NdArray = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0, 1], got $q")
    require(axisWeights.length == axes.length,
      s"need one weight vector per reduced axis " +
        s"(${axisWeights.length} vs ${axes.length})")
    axes.zip(axisWeights).foreach { case (ax, w) =>
      require(w.length == shape(ax),
        s"weight vector length ${w.length} != axis extent ${shape(ax)}")
    }
    val keep = Array.range(0, ndim).filterNot(axes.contains)
    val out = NdArray.zeros(DType.F64, keep.map(shape))
    val redLen = axes.map(shape).product
    val lens = new Array[Int](out.size.toInt)
    val vcell = Array.fill(out.size.toInt)(new Array[Double](math.max(redLen, 1)))
    val wcell = Array.fill(out.size.toInt)(new Array[Double](math.max(redLen, 1)))
    val n = size
    val outStrides = out.strides
    val idx = new Array[Int](ndim)
    var poisonedAny = false
    val poisoned = new Array[Boolean](out.size.toInt)
    var flat = 0L
    while (flat < n) {
      var outFlat = 0L
      var k = 0
      while (k < keep.length) { outFlat += idx(keep(k)) * outStrides(k); k += 1 }
      val oI = outFlat.toInt
      val v = getDouble(flat)
      if (v.isNaN) { if (!skipna) { poisoned(oI) = true; poisonedAny = true } }
      else {
        var w = 1.0
        var a = 0
        while (a < axes.length) { w *= axisWeights(a)(idx(axes(a))); a += 1 }
        vcell(oI)(lens(oI)) = v
        wcell(oI)(lens(oI)) = w
        lens(oI) += 1
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    var i = 0
    while (i < vcell.length) {
      val m = lens(i)
      var total = 0.0
      var j = 0
      while (j < m) { total += wcell(i)(j); j += 1 }
      if ((poisonedAny && poisoned(i)) || m == 0 || total <= 0.0)
        out.setDouble(i.toLong, Double.NaN)
      else {
        NdArray.sortTandem(vcell(i), wcell(i), 0, m)
        val threshold = q * total
        var cum = 0.0
        var pick = m - 1
        var found = false
        j = 0
        while (j < m && !found) {
          cum += wcell(i)(j)
          if (cum >= threshold) { pick = j; found = true }
          j += 1
        }
        out.setDouble(i.toLong, vcell(i)(pick))
      }
      i += 1
    }
    out
  }

  /** Min/max VALUE and its first INDEX along one axis, in float64 — the
    * per-chunk partial for a distributed argmin/argmax (indices are
    * chunk-local; callers add the chunk's dim offset). Ties take the
    * lowest index. skipna ignores NaN cells (all-NaN → value NaN,
    * index -1); without it any NaN poisons the cell the same way. */
  def argExtreme(axis: Int, isMin: Boolean, skipna: Boolean): (NdArray, NdArray) = {
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val outShape = keep.map(shape)
    val vals = NdArray.fill(DType.F64, outShape, Double.NaN)
    val idxs = NdArray.fill(DType.F64, outShape, -1.0)
    val poisoned = new Array[Boolean](vals.size.toInt)
    val outStrides = vals.strides
    val n = size
    val idx = new Array[Int](ndim)
    var flat = 0L
    while (flat < n) {
      var outFlat = 0L
      var k = 0
      while (k < keep.length) { outFlat += idx(keep(k)) * outStrides(k); k += 1 }
      val o = outFlat.toInt
      val v = getDouble(flat)
      if (v.isNaN) { if (!skipna) poisoned(o) = true }
      else if (!poisoned(o)) {
        val cur = vals.getDouble(outFlat)
        if (cur.isNaN || (if (isMin) v < cur else v > cur)) {
          vals.setDouble(outFlat, v)
          idxs.setDouble(outFlat, idx(axis).toDouble)
        }
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    var i = 0
    while (i < poisoned.length) {
      if (poisoned(i)) { vals.setDouble(i.toLong, Double.NaN); idxs.setDouble(i.toLong, -1.0) }
      i += 1
    }
    (vals, idxs)
  }

  /** Block-aggregate downsample (xarray `coarsen`): each output cell
    * aggregates the `factors(d)`-sized block of input positions mapping
    * onto it (factor 1 = untouched axis). Axis extents must divide by
    * their factors — chunk-local by construction when the factor also
    * divides the chunk size. op is "mean" or "sum", NaN-aware under
    * skipna; output F64. */
  def coarsen(factors: Array[Int], op: String, skipna: Boolean): NdArray = {
    require(factors.length == ndim, s"need one factor per axis")
    factors.zip(shape).foreach { case (f, s) =>
      require(f >= 1 && s % f == 0,
        s"coarsen factor $f does not divide axis extent $s")
    }
    require(op == "mean" || op == "sum", s"coarsen op must be mean|sum, got $op")
    val outShape = shape.zip(factors).map { case (s, f) => s / f }
    val sums = NdArray.zeros(DType.F64, outShape)
    val counts = NdArray.zeros(DType.F64, outShape)
    val outStrides = sums.strides
    val n = size
    val idx = new Array[Int](ndim)
    var flat = 0L
    while (flat < n) {
      var outFlat = 0L
      var d = 0
      while (d < ndim) { outFlat += (idx(d) / factors(d)).toLong * outStrides(d); d += 1 }
      val v = getDouble(flat)
      if (!skipna || !v.isNaN) {
        sums.setDouble(outFlat, sums.getDouble(outFlat) + v)
        counts.setDouble(outFlat, counts.getDouble(outFlat) + 1.0)
      }
      var k = ndim - 1
      var carry = true
      while (k >= 0 && carry) {
        idx(k) += 1
        if (idx(k) == shape(k)) { idx(k) = 0; k -= 1 } else carry = false
      }
      flat += 1
    }
    if (op == "sum") sums
    else {
      var i = 0L
      while (i < sums.size) {
        val c = counts.getDouble(i)
        sums.setDouble(i, if (c == 0) Double.NaN else sums.getDouble(i) / c)
        i += 1
      }
      sums
    }
  }

  /** Discrete difference along `axis` in float64 (xarray `diff` shifted
    * to keep the dim extent): out[i] = in[i] - in[i-periods]; positions
    * with no history are NaN. `skipStart` drops that many leading
    * positions from the output (a prepended halo) while keeping them as
    * history — same contract as [[shiftAlong]]. */
  def diffAlong(axis: Int, periods: Int, skipStart: Int): NdArray = {
    require(periods >= 1, s"periods must be >= 1, got $periods")
    require(skipStart >= 0 && skipStart < shape(axis),
      s"skipStart $skipStart out of range for axis extent ${shape(axis)}")
    val outShape = shape.clone()
    outShape(axis) = shape(axis) - skipStart
    val out = NdArray.fill(DType.F64, outShape, Double.NaN)
    val n = size
    val idx = new Array[Int](ndim)
    val outStrides = out.strides
    val axisStride = strides(axis)
    var flat = 0L
    while (flat < n) {
      val i = idx(axis)
      if (i >= skipStart && i - periods >= 0) {
        var outFlat = 0L
        var dd = 0
        while (dd < ndim) {
          outFlat += (if (dd == axis) (i - skipStart).toLong else idx(dd).toLong) * outStrides(dd)
          dd += 1
        }
        out.setDouble(outFlat, getDouble(flat) - getDouble(flat - periods.toLong * axisStride))
      }
      var dd = ndim - 1
      var carry = true
      while (dd >= 0 && carry) {
        idx(dd) += 1
        if (idx(dd) == shape(dd)) { idx(dd) = 0; dd -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Elementwise binary op in float64 against a lower-rank array whose
    * axes map onto this array's axes at positions `otherAxes` (xarray
    * broadcasting: `full - reduced`, e.g. anomaly vs a climatology).
    * `other.shape` must match this shape at those positions. */
  def zipBroadcastF64(other: NdArray, otherAxes: Array[Int])
                     (f: (Double, Double) => Double): NdArray = {
    require(otherAxes.length == other.ndim,
      s"need one axis mapping per other axis: ${otherAxes.length} vs ${other.ndim}")
    otherAxes.zipWithIndex.foreach { case (ax, i) =>
      require(ax >= 0 && ax < ndim && other.shape(i) == shape(ax),
        s"broadcast axis $i→$ax: extent ${other.shape(i)} vs ${shape(ax)}")
    }
    val out = NdArray.zeros(DType.F64, shape)
    val otherStrides = other.strides
    val n = size
    val idx = new Array[Int](ndim)
    var flat = 0L
    while (flat < n) {
      var oFlat = 0L
      var k = 0
      while (k < otherAxes.length) { oFlat += idx(otherAxes(k)) * otherStrides(k); k += 1 }
      out.setDouble(flat, f(getDouble(flat), other.getDouble(oFlat)))
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Trailing rolling mean along `axis` in float64: output position i
    * averages input positions [max(0, i-window+1), i] — SQL's
    * `ROWS BETWEEN window-1 PRECEDING AND CURRENT ROW` with the window
    * truncated at the sequence start. `skipStart` drops that many
    * leading positions from the output (the halo a distributed caller
    * prepended from the neighboring chunk); the dropped positions still
    * participate as window history. NaN inputs propagate (SQL AVG over
    * NaN is NaN). */
  def rollingMeanAlong(axis: Int, window: Int, skipStart: Int): NdArray = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(skipStart >= 0 && skipStart < shape(axis),
      s"skipStart $skipStart out of range for axis extent ${shape(axis)}")
    val outShape = shape.clone()
    outShape(axis) = shape(axis) - skipStart
    val out = NdArray.zeros(DType.F64, outShape)
    // iterate over all lanes (positions of the non-axis dims)
    val n = size
    val idx = new Array[Int](ndim)
    val outStrides = out.strides
    val axisStride = strides(axis) // hoisted: strides allocates per call
    var flat = 0L
    while (flat < n) {
      val i = idx(axis)
      if (i >= skipStart) {
        val lo = math.max(0, i - window + 1)
        var s = 0.0
        var c = 0
        var j = lo
        // walk the window along the axis from this flat position
        val base = flat - (i - lo).toLong * axisStride
        while (j <= i) {
          s += getDouble(base + (j - lo).toLong * axisStride)
          c += 1
          j += 1
        }
        var outFlat = 0L
        var d = 0
        while (d < ndim) {
          outFlat += (if (d == axis) (i - skipStart).toLong else idx(d).toLong) * outStrides(d)
          d += 1
        }
        out.setDouble(outFlat, s / c)
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Shift along `axis` by `periods` in float64: output position i
    * takes input position i-periods; positions with no history are NaN
    * (xarray shift fill). `skipStart` drops that many leading positions
    * from the output (a prepended halo) while keeping them as history. */
  /** Negative-period shift over a two-sided-halo join: the output
    * covers the OWN region `[skipPre, extent - skipPost)` and
    * `out[i] = joined[skipPre + i + lead]` where that source position
    * exists, else NaN (the global tail, where the trailing halo ends
    * with the array). */
  def leadAlong(axis: Int, lead: Int, skipPre: Int, skipPost: Int): NdArray = {
    require(lead >= 1, s"lead must be >= 1, got $lead")
    require(skipPre >= 0 && skipPost >= 0 &&
      skipPre + skipPost < shape(axis),
      s"halo skips $skipPre/$skipPost out of range for extent ${shape(axis)}")
    val ownExt = shape(axis) - skipPre - skipPost
    val outShape = shape.clone()
    outShape(axis) = ownExt
    val out = NdArray.fill(DType.F64, outShape, Double.NaN)
    val n = size
    val idx = new Array[Int](ndim)
    val outStrides = out.strides
    val axisStride = strides(axis)
    var flat = 0L
    while (flat < n) {
      val i = idx(axis)
      if (i >= skipPre && i < skipPre + ownExt && i + lead < shape(axis)) {
        var outFlat = 0L
        var dd = 0
        while (dd < ndim) {
          outFlat += (if (dd == axis) (i - skipPre).toLong
            else idx(dd).toLong) * outStrides(dd)
          dd += 1
        }
        out.setDouble(outFlat, getDouble(flat + lead.toLong * axisStride))
      }
      var dd = ndim - 1
      var carry = true
      while (dd >= 0 && carry) {
        idx(dd) += 1
        if (idx(dd) == shape(dd)) { idx(dd) = 0; dd -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  def shiftAlong(axis: Int, periods: Int, skipStart: Int): NdArray = {
    require(periods >= 1, s"periods must be >= 1, got $periods")
    require(skipStart >= 0 && skipStart < shape(axis),
      s"skipStart $skipStart out of range for axis extent ${shape(axis)}")
    val outShape = shape.clone()
    outShape(axis) = shape(axis) - skipStart
    val out = NdArray.fill(DType.F64, outShape, Double.NaN)
    val n = size
    val idx = new Array[Int](ndim)
    val outStrides = out.strides
    val axisStride = strides(axis)
    var flat = 0L
    while (flat < n) {
      val i = idx(axis)
      if (i >= skipStart && i - periods >= 0) {
        var outFlat = 0L
        var dd = 0
        while (dd < ndim) {
          outFlat += (if (dd == axis) (i - skipStart).toLong else idx(dd).toLong) * outStrides(dd)
          dd += 1
        }
        out.setDouble(outFlat, getDouble(flat - periods.toLong * axisStride))
      }
      var dd = ndim - 1
      var carry = true
      while (dd >= 0 && carry) {
        idx(dd) += 1
        if (idx(dd) == shape(dd)) { idx(dd) = 0; dd -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Cumulative sum along `axis` in float64, seeded per lane from
    * `offsets` (shape = this shape with `axis` removed) — the incoming
    * prefix from preceding chunks in a distributed scan. NaN propagates
    * from its first occurrence onward (plain running sum). */
  def cumsumAlong(axis: Int, offsets: Option[NdArray]): NdArray = {
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    offsets.foreach { o =>
      require(o.shape.sameElements(keep.map(shape)),
        s"offsets shape ${o.shape.toSeq} != lane shape ${keep.map(shape).toSeq}")
    }
    val out = NdArray.zeros(DType.F64, shape)
    val n = size
    val idx = new Array[Int](ndim)
    val axisStride = strides(axis)
    val laneStrides = offsets.map(_.strides)
    var flat = 0L
    while (flat < n) {
      val i = idx(axis)
      val prev =
        if (i > 0) out.getDouble(flat - axisStride)
        else offsets match {
          case Some(o) =>
            var laneFlat = 0L
            var k = 0
            while (k < keep.length) {
              laneFlat += idx(keep(k)) * laneStrides.get(k)
              k += 1
            }
            o.getDouble(laneFlat)
          case None => 0.0
        }
      out.setDouble(flat, prev + getDouble(flat))
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Running product along `axis` in float64 ([[cumsumAlong]] with the
    * multiplicative monoid; `seeds` default to 1). NaN poisons. */
  def cumprodAlong(axis: Int, seeds: Option[NdArray]): NdArray = {
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    seeds.foreach { o =>
      require(o.shape.sameElements(keep.map(shape)),
        s"seeds shape ${o.shape.toSeq} != lane shape ${keep.map(shape).toSeq}")
    }
    val out = NdArray.zeros(DType.F64, shape)
    val n = size
    val idx = new Array[Int](ndim)
    val axisStride = strides(axis)
    val laneStrides = seeds.map(_.strides)
    var flat = 0L
    while (flat < n) {
      val i = idx(axis)
      val prev =
        if (i > 0) out.getDouble(flat - axisStride)
        else seeds match {
          case Some(o) =>
            var laneFlat = 0L
            var k = 0
            while (k < keep.length) {
              laneFlat += idx(keep(k)) * laneStrides.get(k)
              k += 1
            }
            o.getDouble(laneFlat)
          case None => 1.0
        }
      out.setDouble(flat, prev * getDouble(flat))
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Per-lane LAST non-NaN value along `axis` (NaN when the lane has
    * none) — the sliver a distributed forward-fill ships to its
    * successor chunks. */
  def lastValidAlong(axis: Int): NdArray = {
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val out = NdArray.fill(DType.F64, keep.map(shape), Double.NaN)
    val outStrides = out.strides
    val n = size
    val idx = new Array[Int](ndim)
    var flat = 0L
    while (flat < n) {
      val v = getDouble(flat)
      if (!v.isNaN) {
        var outFlat = 0L
        var k = 0
        while (k < keep.length) { outFlat += idx(keep(k)) * outStrides(k); k += 1 }
        out.setDouble(outFlat, v) // C-order: later axis positions overwrite
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Forward-fill NaNs along `axis` in float64 (xarray `ffill`), seeded
    * per lane from `seed` (shape = this shape with `axis` removed) —
    * the most recent non-NaN value from preceding chunks. Positions
    * before the first non-NaN value stay NaN. */
  def ffillAlong(axis: Int, seed: Option[NdArray]): NdArray = {
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    seed.foreach { s =>
      require(s.shape.sameElements(keep.map(shape)),
        s"seed shape ${s.shape.toSeq} != lane shape ${keep.map(shape).toSeq}")
    }
    val out = NdArray.zeros(DType.F64, shape)
    val n = size
    val idx = new Array[Int](ndim)
    val axisStride = strides(axis)
    val seedStrides = seed.map(_.strides)
    var flat = 0L
    while (flat < n) {
      val v = getDouble(flat)
      val filled =
        if (!v.isNaN) v
        else if (idx(axis) > 0) out.getDouble(flat - axisStride)
        else seed match {
          case Some(s) =>
            var laneFlat = 0L
            var k = 0
            while (k < keep.length) {
              laneFlat += idx(keep(k)) * seedStrides.get(k)
              k += 1
            }
            s.getDouble(laneFlat)
          case None => Double.NaN
        }
      out.setDouble(flat, filled)
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Per-lane FIRST non-NaN value along `axis` (NaN when the lane has
    * none) — the sliver a distributed backward-fill ships to its
    * predecessor chunks. */
  def firstValidAlong(axis: Int): NdArray = {
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val out = NdArray.fill(DType.F64, keep.map(shape), Double.NaN)
    val outStrides = out.strides
    val n = size
    val idx = new Array[Int](ndim)
    var flat = 0L
    while (flat < n) {
      val v = getDouble(flat)
      if (!v.isNaN) {
        var outFlat = 0L
        var k = 0
        while (k < keep.length) { outFlat += idx(keep(k)) * outStrides(k); k += 1 }
        if (out.getDouble(outFlat).isNaN) out.setDouble(outFlat, v)
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Backward-fill NaNs along `axis` in float64 (xarray `bfill`),
    * seeded per lane from `seed` — the nearest non-NaN value from
    * SUCCEEDING chunks. Positions after the last non-NaN stay NaN. */
  def bfillAlong(axis: Int, seed: Option[NdArray]): NdArray = {
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    seed.foreach { s =>
      require(s.shape.sameElements(keep.map(shape)),
        s"seed shape ${s.shape.toSeq} != lane shape ${keep.map(shape).toSeq}")
    }
    val out = NdArray.zeros(DType.F64, shape)
    val axisStride = strides(axis)
    val seedStrides = seed.map(_.strides)
    // iterate lanes; walk each lane backward
    val laneCount = size / math.max(shape(axis), 1)
    val laneIdx = new Array[Int](math.max(keep.length, 1))
    var l = 0L
    while (l < laneCount) {
      var base = 0L
      var k = 0
      while (k < keep.length) { base += laneIdx(k) * strides(keep(k)); k += 1 }
      var carryV = seed match {
        case Some(s) =>
          var laneFlat = 0L
          var kk = 0
          while (kk < keep.length) {
            laneFlat += laneIdx(kk) * seedStrides.get(kk)
            kk += 1
          }
          s.getDouble(laneFlat)
        case None => Double.NaN
      }
      var i = shape(axis) - 1
      while (i >= 0) {
        val v = getDouble(base + i.toLong * axisStride)
        if (!v.isNaN) carryV = v
        out.setDouble(base + i.toLong * axisStride, carryV)
        i -= 1
      }
      var kc = keep.length - 1
      var carry = true
      while (kc >= 0 && carry) {
        laneIdx(kc) += 1
        if (laneIdx(kc) == shape(keep(kc))) { laneIdx(kc) = 0; kc -= 1 }
        else carry = false
      }
      l += 1
    }
    out
  }

  /** Running min/max along `axis` in float64, seeded per lane (xarray
    * `cummin`/`cummax` shape): out[i] = op(out[i-1], in[i]) with the
    * lane's seed (or ±∞) before position 0; NaN propagates from its
    * first occurrence onward (like [[cumsumAlong]]). */
  /** Exponentially-weighted moving mean along `axis` (pandas/xarray
    * `ewm(adjust=False)` / `rolling_exp` recurrence): `y_0 = x_0`,
    * `y_t = (1-α)·y_{t-1} + α·x_t`. With `seed` (the predecessor
    * chunk's final y per lane) the first element folds the seed in:
    * `y_0 = (1-α)·seed + α·x_0`. NaN poisons from its first
    * occurrence onward (the recurrence never forgets). For dyadic α
    * (e.g. 0.5) over integer-valued data the arithmetic is exact. */
  def ewmAlong(axis: Int, alpha: Double, seed: Option[NdArray]): NdArray = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    seed.foreach { o =>
      require(o.shape.sameElements(keep.map(shape)),
        s"seed shape ${o.shape.toSeq} != lane shape ${keep.map(shape).toSeq}")
    }
    val out = NdArray.zeros(DType.F64, shape)
    val n = size
    val idx = new Array[Int](ndim)
    val axisStride = strides(axis)
    val laneStrides = seed.map(_.strides)
    val beta = 1.0 - alpha
    var flat = 0L
    while (flat < n) {
      val i = idx(axis)
      val v = getDouble(flat)
      val y =
        if (i > 0) beta * out.getDouble(flat - axisStride) + alpha * v
        else seed match {
          case Some(o) =>
            var laneFlat = 0L
            var k = 0
            while (k < keep.length) {
              laneFlat += idx(keep(k)) * laneStrides.get(k)
              k += 1
            }
            beta * o.getDouble(laneFlat) + alpha * v
          case None => v // y_0 = x_0
        }
      out.setDouble(flat, y)
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  def cumExtremeAlong(axis: Int, isMin: Boolean, seed: Option[NdArray]): NdArray = {
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    seed.foreach { o =>
      require(o.shape.sameElements(keep.map(shape)),
        s"seed shape ${o.shape.toSeq} != lane shape ${keep.map(shape).toSeq}")
    }
    val out = NdArray.zeros(DType.F64, shape)
    val n = size
    val idx = new Array[Int](ndim)
    val axisStride = strides(axis)
    val laneStrides = seed.map(_.strides)
    var flat = 0L
    while (flat < n) {
      val i = idx(axis)
      val prev =
        if (i > 0) out.getDouble(flat - axisStride)
        else seed match {
          case Some(o) =>
            var laneFlat = 0L
            var k = 0
            while (k < keep.length) {
              laneFlat += idx(keep(k)) * laneStrides.get(k)
              k += 1
            }
            o.getDouble(laneFlat)
          case None =>
            if (isMin) Double.PositiveInfinity else Double.NegativeInfinity
        }
      val v = getDouble(flat)
      out.setDouble(flat,
        if (prev.isNaN || v.isNaN) Double.NaN
        else if (isMin) math.min(prev, v) else math.max(prev, v))
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Elementwise binary op in float64, returning F64. */
  def zipF64(other: NdArray)(f: (Double, Double) => Double): NdArray = {
    require(shape.sameElements(other.shape), "shape mismatch")
    val out = NdArray.zeros(DType.F64, shape)
    var i = 0L
    while (i < size) {
      out.setDouble(i, f(getDouble(i), other.getDouble(i)))
      i += 1
    }
    out
  }

  def mapF64(f: Double => Double): NdArray = {
    val out = NdArray.zeros(DType.F64, shape)
    var i = 0L
    while (i < size) { out.setDouble(i, f(getDouble(i))); i += 1 }
    out
  }

  def toDoubles: Array[Double] = {
    val out = new Array[Double](size.toInt)
    var i = 0
    while (i < out.length) { out(i) = getDouble(i); i += 1 }
    out
  }

  def toLongs: Array[Long] = {
    val out = new Array[Long](size.toInt)
    var i = 0
    while (i < out.length) { out(i) = getLong(i); i += 1 }
    out
  }

  /** Trailing rolling reduction along `axis` in float64 — the
    * [[rollingMeanAlong]] loop generalized to op ∈ sum | min | max |
    * mean | var | std | median (SQL's SUM/MIN/MAX/AVG/MEDIAN OVER
    * `ROWS BETWEEN window-1 PRECEDING AND CURRENT ROW`, truncated at
    * the sequence start). var/std are population (ddof=0, xarray's default),
    * computed as `(Σv² − (Σv)²/c)/c` — mirror that exact expression
    * tree in a cross-engine oracle — clamped at 0 before the sqrt so
    * cancellation on near-constant fractional windows yields 0 (as
    * bottleneck does), never sqrt(-ε)=NaN; the clamp is a no-op on
    * the integer-valued data the oracle gates use. `skipStart` as in
    * [[rollingMeanAlong]]. NaN inputs propagate. Positions whose
    * truncated window holds fewer than `minPeriods` values yield NaN
    * (xarray's min_periods; min_periods=window is xarray's default,
    * 1 is the SQL behavior). */
  def rollingReduceAlong(axis: Int, window: Int, skipStart: Int,
                         op: String, minPeriods: Int = 1): NdArray = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minPeriods >= 1 && minPeriods <= window,
      s"minPeriods $minPeriods must be in [1, window $window]")
    require(skipStart >= 0 && skipStart < shape(axis),
      s"skipStart $skipStart out of range for axis extent ${shape(axis)}")
    val (opId, quantileQ) = NdArray.rollingOpId(op)
    val outShape = shape.clone()
    outShape(axis) = shape(axis) - skipStart
    val out = NdArray.zeros(DType.F64, outShape)
    val n = size
    val idx = new Array[Int](ndim)
    val outStrides = out.strides
    val axisStride = strides(axis)
    var flat = 0L
    while (flat < n) {
      val i = idx(axis)
      if (i >= skipStart) {
        val lo = math.max(0, i - window + 1)
        var acc = if (opId == 1) Double.PositiveInfinity
                  else if (opId == 2) Double.NegativeInfinity else 0.0
        var acc2 = 0.0
        var c = 0
        var j = lo
        val base = flat - (i - lo).toLong * axisStride
        val buf = if (opId == 6 || opId == 8) new Array[Double](i - lo + 1)
                  else null
        while (j <= i) {
          val v = getDouble(base + (j - lo).toLong * axisStride)
          // count SKIPS NaN (it counts the valid values, xarray
          // rolling().count()); every other op is NaN-poisoned
          if (v.isNaN) { if (opId != 7) acc = Double.NaN }
          else opId match {
            case 0 | 3 => acc += v
            case 1 => if (v < acc) acc = v
            case 2 => if (v > acc) acc = v
            case 4 | 5 => acc += v; acc2 += v * v
            case 6 | 8 => buf(c) = v
            case 7 => acc += 1
          }
          c += 1
          j += 1
        }
        var outFlat = 0L
        var d = 0
        while (d < ndim) {
          outFlat += (if (d == axis) (i - skipStart).toLong else idx(d).toLong) * outStrides(d)
          d += 1
        }
        // count's minPeriods gate compares VALID observations (acc),
        // not window positions: pandas/xarray min_periods counts
        // non-NaN values, and count is the one op here that doesn't
        // NaN-poison (a poisoned acc fails `< minPeriods` for the
        // other ops only when the window is also short — their NaN
        // result is already NaN either way)
        out.setDouble(outFlat,
          if ((if (opId == 7) acc else c.toDouble) < minPeriods) Double.NaN
          else opId match {
            case 3 => acc / c
            // clamp: the cancelling form can go epsilon-negative on
            // near-constant fractional windows; bottleneck returns 0
            // there, not NaN (math.max keeps a poisoned-NaN acc NaN)
            case 4 => math.max(0.0, (acc2 - acc * acc / c) / c)
            case 5 => math.sqrt(math.max(0.0, (acc2 - acc * acc / c) / c))
            case 6 =>
              if (acc.isNaN) Double.NaN // a NaN poisons the window
              else {
                java.util.Arrays.sort(buf, 0, c)
                if (c % 2 == 1) buf(c / 2)
                else (buf(c / 2 - 1) + buf(c / 2)) / 2
              }
            case 8 =>
              if (acc.isNaN) Double.NaN // a NaN poisons the window
              else {
                // numpy linear interpolation: order stat q*(c-1)
                java.util.Arrays.sort(buf, 0, c)
                val pos = quantileQ * (c - 1)
                val loI = pos.toInt
                val frac = pos - loI
                if (frac == 0.0 || loI + 1 >= c) buf(loI)
                else buf(loI) + frac * (buf(loI + 1) - buf(loI))
              }
            case _ => acc
          })
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Centered rolling reduction over a two-sided-halo join: the output
    * covers the OWN region `[skipPre, extent - skipPost)`; position i's
    * window is `[i - (w-1-h), i + h]` with `h = (window-1)/2` —
    * symmetric for odd windows, pandas' left-heavy convention for even
    * — truncated at the joined array's bounds (which are the GLOBAL
    * bounds at lane edges, since halos only stop at the array ends).
    * Same op set and minPeriods semantics as [[rollingReduceAlong]]. */
  def rollingCenteredAlong(axis: Int, window: Int, skipPre: Int,
                           skipPost: Int, op: String,
                           minPeriods: Int = 1): NdArray = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minPeriods >= 1 && minPeriods <= window,
      s"minPeriods $minPeriods must be in [1, window $window]")
    require(skipPre >= 0 && skipPost >= 0 &&
      skipPre + skipPost < shape(axis),
      s"halo skips $skipPre/$skipPost out of range for extent ${shape(axis)}")
    val (opId, quantileQ) = NdArray.rollingOpId(op)
    val h = (window - 1) / 2
    val before = window - 1 - h
    val ownExt = shape(axis) - skipPre - skipPost
    val outShape = shape.clone()
    outShape(axis) = ownExt
    val out = NdArray.zeros(DType.F64, outShape)
    val n = size
    val idx = new Array[Int](ndim)
    val outStrides = out.strides
    val axisStride = strides(axis)
    var flat = 0L
    while (flat < n) {
      val i = idx(axis)
      if (i >= skipPre && i < skipPre + ownExt) {
        val lo = math.max(0, i - before)
        val hi = math.min(shape(axis) - 1, i + h)
        var acc = if (opId == 1) Double.PositiveInfinity
          else if (opId == 2) Double.NegativeInfinity else 0.0
        var acc2 = 0.0
        var c = 0
        val buf = if (opId == 6 || opId == 8) new Array[Double](hi - lo + 1)
                  else null
        var j = lo
        while (j <= hi) {
          val v = getDouble(flat + (j - i).toLong * axisStride)
          if (v.isNaN) { if (opId != 7) acc = Double.NaN }
          else opId match {
            case 0 | 3 => acc += v
            case 1 => if (v < acc) acc = v
            case 2 => if (v > acc) acc = v
            case 4 | 5 => acc += v; acc2 += v * v
            case 6 | 8 => buf(c) = v
            case 7 => acc += 1
          }
          c += 1
          j += 1
        }
        var outFlat = 0L
        var d = 0
        while (d < ndim) {
          outFlat += (if (d == axis) (i - skipPre).toLong
            else idx(d).toLong) * outStrides(d)
          d += 1
        }
        // as in rollingReduceAlong: count gates minPeriods on VALID
        // observations (pandas/xarray min_periods semantics)
        out.setDouble(outFlat,
          if ((if (opId == 7) acc else c.toDouble) < minPeriods) Double.NaN
          else opId match {
            case 3 => acc / c
            case 4 => math.max(0.0, (acc2 - acc * acc / c) / c)
            case 5 => math.sqrt(math.max(0.0, (acc2 - acc * acc / c) / c))
            case 6 =>
              if (acc.isNaN) Double.NaN
              else {
                java.util.Arrays.sort(buf, 0, c)
                if (c % 2 == 1) buf(c / 2)
                else (buf(c / 2 - 1) + buf(c / 2)) / 2
              }
            case 8 =>
              if (acc.isNaN) Double.NaN
              else {
                java.util.Arrays.sort(buf, 0, c)
                val pos = quantileQ * (c - 1)
                val loI = pos.toInt
                val frac = pos - loI
                if (frac == 0.0 || loI + 1 >= c) buf(loI)
                else buf(loI) + frac * (buf(loI + 1) - buf(loI))
              }
            case _ => acc
          })
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Per-lane (value, global index) of the LAST (`last=true`) or FIRST
    * non-NaN along `axis`, stacked as an output of shape
    * `[2] ++ laneShape` (plane 0 = value, plane 1 = index as double;
    * both NaN when the lane has none). The sliver a distributed
    * interpolation scan ships between chunks — the index plane is what
    * [[lastValidAlong]]/[[firstValidAlong]] lack. */
  def edgeValidWithIndexAlong(axis: Int, globalStart: Long,
                              last: Boolean): NdArray = {
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val laneShape = keep.map(shape)
    val out = NdArray.fill(DType.F64, 2 +: laneShape, Double.NaN)
    val laneSize = out.size / 2
    val n = size
    val idx = new Array[Int](ndim)
    // lane strides within one output plane (C-order over keep dims)
    val laneStrides = new Array[Long](keep.length)
    var acc = 1L
    var k = keep.length - 1
    while (k >= 0) { laneStrides(k) = acc; acc *= laneShape(k); k -= 1 }
    var flat = 0L
    while (flat < n) {
      val v = getDouble(flat)
      if (!v.isNaN) {
        var laneFlat = 0L
        var kk = 0
        while (kk < keep.length) { laneFlat += idx(keep(kk)) * laneStrides(kk); kk += 1 }
        if (last || out.getDouble(laneFlat).isNaN) {
          out.setDouble(laneFlat, v)
          out.setDouble(laneSize + laneFlat, (globalStart + idx(axis)).toDouble)
        }
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Forward-fill along `axis` with a gap LIMIT (xarray
    * `ffill(limit=n)`): a NaN position takes the most recent non-NaN
    * value only if it lies at most `limit` positions back (by GLOBAL
    * index); farther gaps stay NaN. `seed` is the [2]++laneShape
    * stacked (value, global index) sliver from preceding chunks
    * ([[edgeValidWithIndexAlong]]). */
  def ffillLimitAlong(axis: Int, globalStart: Long, limit: Int,
                      seed: Option[NdArray]): NdArray = {
    require(limit >= 1, s"ffill limit must be >= 1, got $limit")
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val m = shape(axis)
    val out = NdArray.zeros(DType.F64, shape)
    val axisStride = strides(axis)
    val laneCount = size / math.max(m, 1)
    val laneIdx = new Array[Int](math.max(keep.length, 1))
    val laneShape = keep.map(shape)
    val laneStrides = new Array[Long](keep.length)
    var accS = 1L
    var k = keep.length - 1
    while (k >= 0) { laneStrides(k) = accS; accS *= laneShape(k); k -= 1 }
    val laneSize = laneShape.foldLeft(1L)(_ * _.toLong)
    var l = 0L
    while (l < laneCount) {
      var base = 0L
      var seedFlat = 0L
      var kk = 0
      while (kk < keep.length) {
        base += laneIdx(kk) * strides(keep(kk))
        seedFlat += laneIdx(kk) * laneStrides(kk)
        kk += 1
      }
      var pv = seed.map(_.getDouble(seedFlat)).getOrElse(Double.NaN)
      var pi = seed.map(_.getDouble(laneSize + seedFlat)).getOrElse(Double.NaN)
      var i = 0
      while (i < m) {
        val off = base + i.toLong * axisStride
        val v = getDouble(off)
        val g = globalStart + i
        if (!v.isNaN) {
          out.setDouble(off, v)
          pv = v
          pi = g.toDouble
        } else if (!pv.isNaN && g - pi <= limit) out.setDouble(off, pv)
        else out.setDouble(off, Double.NaN)
        i += 1
      }
      var kc = keep.length - 1
      var carry = true
      while (kc >= 0 && carry) {
        laneIdx(kc) += 1
        if (laneIdx(kc) == laneShape(kc)) { laneIdx(kc) = 0; kc -= 1 }
        else carry = false
      }
      l += 1
    }
    out
  }

  /** Backward-fill along `axis` with a gap LIMIT (xarray
    * `bfill(limit=n)`) — [[ffillLimitAlong]] mirrored: a NaN position
    * takes the nearest FOLLOWING non-NaN value if it lies at most
    * `limit` positions ahead (by global index). `seed` is the stacked
    * (value, global index) sliver from SUCCEEDING chunks. */
  def bfillLimitAlong(axis: Int, globalStart: Long, limit: Int,
                      seed: Option[NdArray]): NdArray = {
    require(limit >= 1, s"bfill limit must be >= 1, got $limit")
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val m = shape(axis)
    val out = NdArray.zeros(DType.F64, shape)
    val axisStride = strides(axis)
    val laneCount = size / math.max(m, 1)
    val laneIdx = new Array[Int](math.max(keep.length, 1))
    val laneShape = keep.map(shape)
    val laneStrides = new Array[Long](keep.length)
    var accS = 1L
    var k = keep.length - 1
    while (k >= 0) { laneStrides(k) = accS; accS *= laneShape(k); k -= 1 }
    val laneSize = laneShape.foldLeft(1L)(_ * _.toLong)
    var l = 0L
    while (l < laneCount) {
      var base = 0L
      var seedFlat = 0L
      var kk = 0
      while (kk < keep.length) {
        base += laneIdx(kk) * strides(keep(kk))
        seedFlat += laneIdx(kk) * laneStrides(kk)
        kk += 1
      }
      var nv = seed.map(_.getDouble(seedFlat)).getOrElse(Double.NaN)
      var ni = seed.map(_.getDouble(laneSize + seedFlat)).getOrElse(Double.NaN)
      var i = m - 1
      while (i >= 0) {
        val off = base + i.toLong * axisStride
        val v = getDouble(off)
        val g = globalStart + i
        if (!v.isNaN) {
          out.setDouble(off, v)
          nv = v
          ni = g.toDouble
        } else if (!nv.isNaN && ni - g <= limit) out.setDouble(off, nv)
        else out.setDouble(off, Double.NaN)
        i -= 1
      }
      var kc = keep.length - 1
      var carry = true
      while (kc >= 0 && carry) {
        laneIdx(kc) += 1
        if (laneIdx(kc) == laneShape(kc)) { laneIdx(kc) = 0; kc -= 1 }
        else carry = false
      }
      l += 1
    }
    out
  }

  /** Linear interpolation across NaN runs along `axis` (xarray
    * `interpolate_na(method='linear')`): each NaN position between two
    * valid values takes the line through them at its own global index;
    * leading/trailing NaNs (nothing on one side) stay NaN. `prev` /
    * `next` are [2]++laneShape stacked (value, global index) seeds from
    * the neighboring chunks (see [[edgeValidWithIndexAlong]]).
    * `maxGap` is xarray's max_gap: a run whose bracketing valid
    * indices sit more than `maxGap` apart stays NaN. */
  def interpNaAlong(axis: Int, globalStart: Long,
                    prev: Option[NdArray], next: Option[NdArray],
                    maxGap: Double = Double.PositiveInfinity): NdArray = {
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val m = shape(axis)
    val out = NdArray.zeros(DType.F64, shape)
    val axisStride = strides(axis)
    val laneCount = size / math.max(m, 1)
    val laneIdx = new Array[Int](math.max(keep.length, 1))
    // seed lane strides (C-order over keep dims, one plane)
    val laneShape = keep.map(shape)
    val laneStrides = new Array[Long](keep.length)
    var accS = 1L
    var k = keep.length - 1
    while (k >= 0) { laneStrides(k) = accS; accS *= laneShape(k); k -= 1 }
    val laneSize = laneShape.foldLeft(1L)(_ * _.toLong)
    val nextV = new Array[Double](m)
    val nextI = new Array[Double](m)
    var l = 0L
    while (l < laneCount) {
      var base = 0L
      var seedFlat = 0L
      var kk = 0
      while (kk < keep.length) {
        base += laneIdx(kk) * strides(keep(kk))
        seedFlat += laneIdx(kk) * laneStrides(kk)
        kk += 1
      }
      // backward pass: nearest valid at-or-after each position
      var nv = next.map(_.getDouble(seedFlat)).getOrElse(Double.NaN)
      var ni = next.map(_.getDouble(laneSize + seedFlat)).getOrElse(Double.NaN)
      var i = m - 1
      while (i >= 0) {
        val v = getDouble(base + i.toLong * axisStride)
        if (!v.isNaN) { nv = v; ni = (globalStart + i).toDouble }
        nextV(i) = nv; nextI(i) = ni
        i -= 1
      }
      // forward pass: fill
      var pv = prev.map(_.getDouble(seedFlat)).getOrElse(Double.NaN)
      var pi = prev.map(_.getDouble(laneSize + seedFlat)).getOrElse(Double.NaN)
      i = 0
      while (i < m) {
        val off = base + i.toLong * axisStride
        val v = getDouble(off)
        if (!v.isNaN) {
          out.setDouble(off, v)
          pv = v; pi = (globalStart + i).toDouble
        } else if (!pv.isNaN && !nextV(i).isNaN && nextI(i) - pi <= maxGap) {
          val g = (globalStart + i).toDouble
          out.setDouble(off,
            pv + (nextV(i) - pv) * (g - pi) / (nextI(i) - pi))
        } else out.setDouble(off, Double.NaN)
        i += 1
      }
      var kc = keep.length - 1
      var carry = true
      while (kc >= 0 && carry) {
        laneIdx(kc) += 1
        if (laneIdx(kc) == laneShape(kc)) { laneIdx(kc) = 0; kc -= 1 }
        else carry = false
      }
      l += 1
    }
    out
  }

  /** Per-lane degree-1 OLS partials along `axis` against the global
    * index t = globalStart + i, stacked as [5] ++ laneShape:
    * plane 0 = n (count of valid points), 1 = Σt, 2 = Σt², 3 = Σv,
    * 4 = Σt·v. Partials add elementwise across chunks; the slope
    * extracts as (nΣtv − ΣtΣv) / (nΣt² − (Σt)²). With `skipna` NaN
    * values drop from all five sums; without it they poison Σv/Σtv
    * (and so the slope) while t-statistics stay finite. */
  def olsPartialsAlong(axis: Int, globalStart: Long, skipna: Boolean): NdArray = {
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val laneShape = keep.map(shape)
    val out = NdArray.zeros(DType.F64, 5 +: laneShape)
    val laneSize = out.size / 5
    val n = size
    val idx = new Array[Int](ndim)
    val laneStrides = new Array[Long](keep.length)
    var acc = 1L
    var k = keep.length - 1
    while (k >= 0) { laneStrides(k) = acc; acc *= laneShape(k); k -= 1 }
    var flat = 0L
    while (flat < n) {
      val v = getDouble(flat)
      if (!v.isNaN || !skipna) {
        var laneFlat = 0L
        var kk = 0
        while (kk < keep.length) { laneFlat += idx(keep(kk)) * laneStrides(kk); kk += 1 }
        val t = (globalStart + idx(axis)).toDouble
        out.setDouble(laneFlat, out.getDouble(laneFlat) + 1.0)
        out.setDouble(laneSize + laneFlat, out.getDouble(laneSize + laneFlat) + t)
        out.setDouble(2 * laneSize + laneFlat, out.getDouble(2 * laneSize + laneFlat) + t * t)
        out.setDouble(3 * laneSize + laneFlat, out.getDouble(3 * laneSize + laneFlat) + v)
        out.setDouble(4 * laneSize + laneFlat, out.getDouble(4 * laneSize + laneFlat) + t * v)
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** [[olsPartialsAlong]] with a per-position weight (xarray
    * `polyfit(w=...)` at degree 1): planes stack Σw, Σwt, Σwt², Σwv,
    * Σwtv — the weighted normal-equation ingredients, with `weights`
    * indexed by the GLOBAL position t = globalStart + i. A skipped NaN
    * drops its weight. Partials add elementwise across chunks; with
    * integer-valued weights and data every sum is exact, so merge
    * order cannot change a bit. */
  def weightedOlsPartialsAlong(axis: Int, globalStart: Long,
                               weights: Array[Double],
                               skipna: Boolean): NdArray = {
    // plane 5 holds the count of valid points with NONZERO weight —
    // the rank of the weighted system (each global t occurs once per
    // lane, so nonzero weight at >= 2 positions means genuinely
    // nonsingular). A zero-weighted point contributes nothing to any
    // moment plane, so counting it would let a rank-deficient system
    // through to an FP denominator that is rounding noise, not an
    // exact zero.
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val laneShape = keep.map(shape)
    val out = NdArray.zeros(DType.F64, 6 +: laneShape)
    val laneSize = out.size / 6
    val n = size
    val idx = new Array[Int](ndim)
    val laneStrides = new Array[Long](keep.length)
    var acc = 1L
    var k = keep.length - 1
    while (k >= 0) { laneStrides(k) = acc; acc *= laneShape(k); k -= 1 }
    var flat = 0L
    while (flat < n) {
      val v = getDouble(flat)
      if (!v.isNaN || !skipna) {
        var laneFlat = 0L
        var kk = 0
        while (kk < keep.length) { laneFlat += idx(keep(kk)) * laneStrides(kk); kk += 1 }
        val g = globalStart + idx(axis)
        val t = g.toDouble
        val w = weights(g.toInt)
        out.setDouble(laneFlat, out.getDouble(laneFlat) + w)
        out.setDouble(laneSize + laneFlat, out.getDouble(laneSize + laneFlat) + w * t)
        out.setDouble(2 * laneSize + laneFlat, out.getDouble(2 * laneSize + laneFlat) + w * t * t)
        out.setDouble(3 * laneSize + laneFlat, out.getDouble(3 * laneSize + laneFlat) + w * v)
        out.setDouble(4 * laneSize + laneFlat, out.getDouble(4 * laneSize + laneFlat) + w * t * v)
        if (w != 0)
          out.setDouble(5 * laneSize + laneFlat, out.getDouble(5 * laneSize + laneFlat) + 1.0)
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Per-lane degree-`deg` polynomial-fit partials along `axis`
    * against the global index t = globalStart + i, stacked as
    * [3·deg + 2] ++ laneShape: planes 0..2deg hold the power sums
    * S_k = Σ t^k over valid positions, planes 2deg+1..3deg+1 the
    * moment sums V_k = Σ t^k·v for k = 0..deg — the normal-equation
    * ingredients (A[i][j] = S_{i+j}, b[i] = V_i). Partials add
    * elementwise across chunks; while every S_k/V_k magnitude stays
    * under 2^53 the sums are exact integers and merge order cannot
    * change a bit. `skipna` as in [[olsPartialsAlong]]. */
  def polyPartialsAlong(axis: Int, globalStart: Long, deg: Int,
                        skipna: Boolean,
                        weights: Array[Double] = null): NdArray = {
    // weights (optional, indexed by GLOBAL position): every power and
    // moment plane multiplies by w — the weighted normal equations
    // (xarray polyfit(w=...)); a skipped NaN drops its weight. The
    // weighted form appends ONE extra plane counting valid points
    // with NONZERO weight — the system's rank (each global t occurs
    // once per lane): weight mass can't stand in for it, a
    // zero-weighted point adds nothing to any moment plane, and an
    // underdetermined cell's FP determinant is rounding noise rather
    // than an exact zero — the count guard is the reliable rejection.
    val planes = 3 * deg + 2 + (if (weights == null) 0 else 1)
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val laneShape = keep.map(shape)
    val out = NdArray.zeros(DType.F64, planes +: laneShape)
    val laneSize = out.size / planes
    val n = size
    val idx = new Array[Int](ndim)
    val laneStrides = new Array[Long](keep.length)
    var acc = 1L
    var k = keep.length - 1
    while (k >= 0) { laneStrides(k) = acc; acc *= laneShape(k); k -= 1 }
    var flat = 0L
    while (flat < n) {
      val v = getDouble(flat)
      if (!v.isNaN || !skipna) {
        var laneFlat = 0L
        var kk = 0
        while (kk < keep.length) { laneFlat += idx(keep(kk)) * laneStrides(kk); kk += 1 }
        val g = globalStart + idx(axis)
        val t = g.toDouble
        var p = if (weights == null) 1.0 else weights(g.toInt)
        var d = 0
        while (d <= 2 * deg) {
          out.setDouble(d * laneSize + laneFlat,
            out.getDouble(d * laneSize + laneFlat) + p)
          if (d <= deg)
            out.setDouble((2 * deg + 1 + d) * laneSize + laneFlat,
              out.getDouble((2 * deg + 1 + d) * laneSize + laneFlat) + p * v)
          p *= t
          d += 1
        }
        if (weights != null && weights(g.toInt) != 0)
          out.setDouble((3 * deg + 2) * laneSize + laneFlat,
            out.getDouble((3 * deg + 2) * laneSize + laneFlat) + 1.0)
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Subtract the per-lane polynomial Σ c_j·t^j evaluated at the
    * global index t = globalStart + i — the detrend kernel. `coeffs`
    * is stacked [deg+1] ++ laneShape, HIGHEST power first (polyfit's
    * output order); evaluation is Horner highest-first,
    * `((c_d·t + c_{d−1})·t + …) + c_0` — keep that exact tree in sync
    * with any oracle. NaN values pass through NaN. */
  /** Evaluate per-lane polynomial coefficients at the global index
    * (xarray `polyval`): the [[detrendAlong]] Horner tree WITHOUT the
    * subtraction — out = P(globalStart + i) per cell, independent of
    * this array's values (only the shape routes the lanes). */
  def polyvalAlong(axis: Int, globalStart: Long, coeffs: NdArray): NdArray = {
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val laneShape = keep.map(shape)
    val nCoef = coeffs.shape(0)
    val laneSize = coeffs.size / nCoef
    require(laneShape.map(_.toLong).product == laneSize,
      s"coeff lanes ${coeffs.shape.toSeq} do not match data ${shape.toSeq}")
    val out = NdArray.zeros(DType.F64, shape.clone())
    val n = size
    val idx = new Array[Int](ndim)
    val laneStrides = new Array[Long](keep.length)
    var acc = 1L
    var k = keep.length - 1
    while (k >= 0) { laneStrides(k) = acc; acc *= laneShape(k); k -= 1 }
    var flat = 0L
    while (flat < n) {
      var laneFlat = 0L
      var kk = 0
      while (kk < keep.length) { laneFlat += idx(keep(kk)) * laneStrides(kk); kk += 1 }
      val t = (globalStart + idx(axis)).toDouble
      var poly = coeffs.getDouble(laneFlat)
      var c = 1
      while (c < nCoef) {
        poly = poly * t + coeffs.getDouble(c * laneSize + laneFlat)
        c += 1
      }
      out.setDouble(flat, poly)
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  def detrendAlong(axis: Int, globalStart: Long, coeffs: NdArray): NdArray = {
    val keep = Array.range(0, ndim).filterNot(_ == axis)
    val laneShape = keep.map(shape)
    val nCoef = coeffs.shape(0)
    val laneSize = coeffs.size / nCoef
    require(laneShape.map(_.toLong).product == laneSize,
      s"coeff lanes ${coeffs.shape.toSeq} do not match data ${shape.toSeq}")
    val out = NdArray.zeros(DType.F64, shape.clone())
    val n = size
    val idx = new Array[Int](ndim)
    val laneStrides = new Array[Long](keep.length)
    var acc = 1L
    var k = keep.length - 1
    while (k >= 0) { laneStrides(k) = acc; acc *= laneShape(k); k -= 1 }
    var flat = 0L
    while (flat < n) {
      var laneFlat = 0L
      var kk = 0
      while (kk < keep.length) { laneFlat += idx(keep(kk)) * laneStrides(kk); kk += 1 }
      val t = (globalStart + idx(axis)).toDouble
      var poly = coeffs.getDouble(laneFlat)
      var c = 1
      while (c < nCoef) {
        poly = poly * t + coeffs.getDouble(c * laneSize + laneFlat)
        c += 1
      }
      out.setDouble(flat, getDouble(flat) - poly)
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Central-difference gradient along `axis` against coordinate
    * values (numpy.gradient / xarray `differentiate`, edge_order=1):
    * interior positions take (v[g+1] − v[g−1]) / (c[g+1] − c[g−1]),
    * the global edges the one-sided first-order difference. The array
    * holds `skipPre` prepended and `skipPost` appended halo elements
    * along the axis (present exactly when a neighbor chunk exists);
    * output is the own extent only. `coords` is the full-dim
    * coordinate array, `off` the own region's global start. */
  def gradientAlong(axis: Int, skipPre: Int, skipPost: Int, off: Long,
                    coords: Array[Double]): NdArray = {
    val m = shape(axis) - skipPre - skipPost
    require(m >= 1, s"gradient: empty own extent along axis $axis")
    require(coords.length >= 2, "gradient needs at least 2 positions")
    val outShape = shape.clone()
    outShape(axis) = m
    val out = NdArray.zeros(DType.F64, outShape)
    val n = coords.length
    val axStride = strides(axis)
    val idx = new Array[Int](ndim)
    var flat = 0L
    val total = out.size
    while (flat < total) {
      val p = idx(axis)
      val g = off + p
      var jFlat = 0L
      var dd = 0
      while (dd < ndim) {
        jFlat += (if (dd == axis) (skipPre + p).toLong else idx(dd).toLong) *
          strides(dd)
        dd += 1
      }
      val v =
        if (g == 0L)
          (getDouble(jFlat + axStride) - getDouble(jFlat)) /
            (coords(1) - coords(0))
        else if (g == n - 1L)
          (getDouble(jFlat) - getDouble(jFlat - axStride)) /
            (coords(n - 1) - coords(n - 2))
        else
          (getDouble(jFlat + axStride) - getDouble(jFlat - axStride)) /
            (coords((g + 1).toInt) - coords((g - 1).toInt))
      out.setDouble(flat, v) // row-major walk: flat == out's C-order index
      var d2 = ndim - 1
      var carry = true
      while (d2 >= 0 && carry) {
        idx(d2) += 1
        if (idx(d2) == outShape(d2)) { idx(d2) = 0; d2 -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Per-interval trapezoid contributions along `axis`: output position
    * i (global g = globalStart + i) holds (v[g−1] + v[g])/2 · Δ[g−1],
    * the area of the interval ENDING at g (0 at g = 0 — no interval).
    * `skipStart` drops a prepended halo from the output while keeping
    * it as the v[g−1] history; `deltas` are the full-dim coordinate
    * spacings (Δ[j] = c[j+1] − c[j]). Summing the output along the
    * axis gives the trapezoidal integral. */
  def trapezoidAlong(axis: Int, skipStart: Int, globalStart: Long,
                     deltas: Array[Double]): NdArray = {
    require(skipStart >= 0 && skipStart < shape(axis),
      s"skipStart $skipStart out of range for axis extent ${shape(axis)}")
    val outShape = shape.clone()
    outShape(axis) = shape(axis) - skipStart
    val out = NdArray.zeros(DType.F64, outShape)
    val n = size
    val idx = new Array[Int](ndim)
    val outStrides = out.strides
    val axisStride = strides(axis)
    var flat = 0L
    while (flat < n) {
      val i = idx(axis)
      if (i >= skipStart) {
        val g = globalStart + (i - skipStart)
        var outFlat = 0L
        var dd = 0
        while (dd < ndim) {
          outFlat += (if (dd == axis) (i - skipStart).toLong else idx(dd).toLong) * outStrides(dd)
          dd += 1
        }
        val v =
          if (g == 0) 0.0
          else (getDouble(flat - axisStride) + getDouble(flat)) / 2 *
            deltas((g - 1).toInt)
        out.setDouble(outFlat, v)
      }
      var dd = ndim - 1
      var carry = true
      while (dd >= 0 && carry) {
        idx(dd) += 1
        if (idx(dd) == shape(dd)) { idx(dd) = 0; dd -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  /** Gather the given positions along `axis` (np.take): output extent
    * along the axis = positions.length, in the given order. */
  /** Sliding-window VIEW materialization (xarray
    * `rolling(dim=w).construct(windowDim)`): `this` is halo ++ own
    * along `axis` (`skipStart` halo elements prepended); the result
    * keeps the own extent along `axis` and appends ONE trailing axis
    * of length `window`, where out[..., i, ..., k] is the value at
    * axis position i - (window-1) + k — NaN where that position falls
    * before the start of the array (the left-truncated windows of the
    * first chunk; interior chunks see them through the halo). */
  def rollingConstructAlong(axis: Int, window: Int, skipStart: Int): NdArray = {
    val ext = shape(axis) - skipStart
    val outShape = shape.clone()
    outShape(axis) = ext
    val out = NdArray.zeros(DType.F64, outShape :+ window)
    val srcStrides = strides
    val idx = new Array[Int](ndim)
    val total = outShape.foldLeft(1L)(_ * _)
    var ownFlat = 0L
    while (ownFlat < total) {
      var base = 0L
      var d = 0
      while (d < ndim) {
        base += (if (d == axis) (idx(d) + skipStart).toLong else idx(d).toLong) *
          srcStrides(d)
        d += 1
      }
      var k = 0
      while (k < window) {
        val srcAxis = idx(axis) + skipStart - (window - 1) + k
        out.setDouble(ownFlat * window + k,
          if (srcAxis < 0) Double.NaN
          else getDouble(base + (srcAxis - idx(axis) - skipStart).toLong *
            srcStrides(axis)))
        k += 1
      }
      // row-major odometer over the own extents
      var c = ndim - 1
      var carry = true
      while (c >= 0 && carry) {
        idx(c) += 1
        if (idx(c) == outShape(c)) { idx(c) = 0; c -= 1 } else carry = false
      }
      ownFlat += 1
    }
    out
  }

  /** Dtype cast (numpy `astype`): elementwise C-style conversion —
    * float→int truncates toward zero (NaN becomes 0 via the JVM's
    * saturating cast, where numpy's result is platform-undefined),
    * int→float rounds past 2^53, narrowing int→int keeps the low bits,
    * any→bool is `!= 0` (NaN → true, as numpy). Same dtype returns
    * `this` unchanged. */
  def astype(target: DType): NdArray = {
    if (target == dtype) return this
    val out = NdArray.zeros(target, shape)
    val floatSide = dtype == DType.F32 || dtype == DType.F64 ||
      target == DType.F32 || target == DType.F64
    val n = size
    var i = 0L
    while (i < n) {
      if (floatSide) out.setDouble(i, getDouble(i))
      else out.setLong(i, getLong(i))
      i += 1
    }
    out
  }

  /** Trailing kernel-weighted window (the fused form of
    * `rollingConstructAlong(axis, w) · weights`): output position i is
    * Σ_k weights(k) · v[i − w + 1 + k] with k = 0 the OLDEST tap, NaN
    * where the window reaches before the array start (the construct
    * view pads those taps with NaN and a dot product propagates it) or
    * where any tap is NaN. Output covers `[skipStart, extent)` along
    * the axis; accumulation is left-to-right in k so exact-weight
    * kernels reproduce a SQL `w0·lag(v,w−1) + … + w_{w−1}·v` bit-for-
    * bit. */
  def convolveAlong(axis: Int, weights: Array[Double],
                    skipStart: Int): NdArray = {
    val w = weights.length
    require(w >= 1, "convolve needs at least one weight")
    require(skipStart >= 0 && skipStart < shape(axis),
      s"skipStart $skipStart out of range for axis extent ${shape(axis)}")
    val outShape = shape.clone()
    outShape(axis) = shape(axis) - skipStart
    val out = NdArray.zeros(DType.F64, outShape)
    val n = size
    val idx = new Array[Int](ndim)
    val outStrides = out.strides
    val axisStride = strides(axis)
    var flat = 0L
    while (flat < n) {
      val i = idx(axis)
      if (i >= skipStart) {
        val res =
          if (i < w - 1) Double.NaN // window reaches before the start
          else {
            var acc = 0.0
            val base = flat - (w - 1).toLong * axisStride
            var k = 0
            while (k < w) {
              acc += weights(k) * getDouble(base + k.toLong * axisStride)
              k += 1
            }
            acc
          }
        var outFlat = 0L
        var d = 0
        while (d < ndim) {
          outFlat += (if (d == axis) (i - skipStart).toLong
                      else idx(d).toLong) * outStrides(d)
          d += 1
        }
        out.setDouble(outFlat, res)
      }
      var d = ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    out
  }

  def takeAlong(axis: Int, positions: Array[Int]): NdArray = {
    positions.foreach(p => require(p >= 0 && p < shape(axis),
      s"take position $p out of range for axis extent ${shape(axis)}"))
    val outShape = shape.clone()
    outShape(axis) = positions.length
    val out = NdArray.zeros(dtype, outShape)
    var j = 0
    while (j < positions.length) {
      val starts = new Array[Int](ndim)
      starts(axis) = positions(j)
      val lens = shape.clone()
      lens(axis) = 1
      val dstStarts = new Array[Int](ndim)
      dstStarts(axis) = j
      out.insert(dstStarts, slice(starts, lens))
      j += 1
    }
    out
  }

  /** Exact equality: same dtype, shape, and bytes. */
  def sameAs(other: NdArray): Boolean =
    dtype == other.dtype && shape.sameElements(other.shape) &&
      java.util.Arrays.equals(data, other.data)

  /** Approximate equality in f64 (NaN == NaN). */
  def allClose(other: NdArray, tol: Double = 1e-9): Boolean =
    shape.sameElements(other.shape) && {
      var i = 0L
      var ok = true
      while (ok && i < size) {
        val a = getDouble(i); val b = other.getDouble(i)
        ok = (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
        i += 1
      }
      ok
    }

  override def toString: String =
    s"NdArray(${dtype.zarr}, [${shape.mkString(",")}])"
}

object NdArray {
  /** Levenberg–Marquardt solve of y ≈ a·exp(b·t) over the first `m`
    * entries of (t, y) — the [[curvefitExpAlong]] per-lane core. Seed:
    * the closed-form log-linear OLS over positive y (ln y = ln a + b·t);
    * when fewer than two positive points exist, (mean(y), 0). Damping
    * starts at 1e-3, ×10 on a rejected step, ×0.3 on acceptance;
    * terminates on relative step < 1e-13, SSE ≤ 1e-28, a singular
    * normal matrix, damping overflow past 1e12, or 60 iterations —
    * all data-dependent only, so the result is bit-deterministic. */
  private[ndarray] def fitExp(t: Array[Double], y: Array[Double],
                              m: Int): (Double, Double) = {
    var n = 0.0; var st = 0.0; var st2 = 0.0; var sl = 0.0; var stl = 0.0
    var i = 0
    while (i < m) {
      if (y(i) > 0) {
        val l = math.log(y(i))
        n += 1; st += t(i); st2 += t(i) * t(i); sl += l; stl += t(i) * l
      }
      i += 1
    }
    var a = 0.0
    var b = 0.0
    if (n >= 2 && n * st2 - st * st != 0) {
      b = (n * stl - st * sl) / (n * st2 - st * st)
      a = math.exp((sl - b * st) / n)
    } else {
      var sy = 0.0; i = 0
      while (i < m) { sy += y(i); i += 1 }
      a = sy / m
    }
    def sse(aa: Double, bb: Double): Double = {
      var s = 0.0; var k = 0
      while (k < m) {
        val r = y(k) - aa * math.exp(bb * t(k)); s += r * r; k += 1
      }
      s
    }
    var cur = sse(a, b)
    var lambda = 1e-3
    var it = 0
    while (it < 60) {
      var j11 = 0.0; var j12 = 0.0; var j22 = 0.0; var g1 = 0.0; var g2 = 0.0
      var k = 0
      while (k < m) {
        val e = math.exp(b * t(k))
        val r = y(k) - a * e
        val d2 = a * t(k) * e
        j11 += e * e; j12 += e * d2; j22 += d2 * d2
        g1 += e * r; g2 += d2 * r
        k += 1
      }
      val a11 = j11 * (1 + lambda)
      val a22 = j22 * (1 + lambda)
      val det = a11 * a22 - j12 * j12
      if (det == 0 || det.isNaN) it = 60
      else {
        val da = (g1 * a22 - j12 * g2) / det
        val db = (a11 * g2 - g1 * j12) / det
        val ns = sse(a + da, b + db)
        if (ns.isNaN || ns >= cur) {
          lambda *= 10
          if (lambda > 1e12) it = 60
        } else {
          val rel = math.max(
            math.abs(da) / (math.abs(a) + java.lang.Double.MIN_VALUE),
            math.abs(db) / (math.abs(b) + java.lang.Double.MIN_VALUE))
          a += da; b += db; cur = ns
          lambda = math.max(lambda * 0.3, 1e-12)
          if (rel < 1e-13 || cur <= 1e-28) it = 60
        }
      }
      it += 1
    }
    (a, b)
  }

  /** Per-lane nonlinear least squares for the LOGISTIC growth model
    * y = L / (1 + exp(-k·(t - t0))) — xarray `curvefit` with the
    * classic sigmoid (saturation curves, adoption/growth series).
    * Levenberg–Marquardt on the 3-parameter model with the standard
    * seed: L₀ = 1.05·max(y), then the logit transform
    * ln(L₀/y - 1) = -k·t + k·t0 is LINEAR in t, so an ordinary
    * least-squares line over the (0, L₀)-interior points seeds k and
    * t0 (exact up to rounding on zero-residual data, same as fitExp's
    * log-linear seed). Deterministic sequential solve per lane.
    * Returns (L, k, t0); NaN triple when fewer than 3 valid points or
    * no positive values (the model is unidentifiable). */
  private[ndarray] def fitLogistic(t: Array[Double], y: Array[Double],
                                   m: Int): (Double, Double, Double) = {
    var ymax = 0.0
    var i = 0
    while (i < m) { if (y(i) > ymax) ymax = y(i); i += 1 }
    if (m < 3 || ymax <= 0) return (Double.NaN, Double.NaN, Double.NaN)
    val big = 1.05 * ymax
    // logit-linear seed over interior points
    var n = 0.0; var st = 0.0; var st2 = 0.0; var sz = 0.0; var stz = 0.0
    i = 0
    while (i < m) {
      if (y(i) > 0 && y(i) < big) {
        val z = math.log(big / y(i) - 1.0)
        n += 1; st += t(i); st2 += t(i) * t(i); sz += z; stz += t(i) * z
      }
      i += 1
    }
    var l = big
    var k = 0.0
    var t0 = 0.0
    if (n >= 2 && n * st2 - st * st != 0) {
      val slope = (n * stz - st * sz) / (n * st2 - st * st) // = -k
      val icept = (sz - slope * st) / n                     // = k·t0
      k = -slope
      t0 = if (k != 0) icept / k else 0.0
    }
    if (k == 0) { k = 1e-3; t0 = st / math.max(n, 1.0) }
    def sse(ll: Double, kk: Double, tt: Double): Double = {
      var s = 0.0; var j = 0
      while (j < m) {
        val r = y(j) - ll / (1.0 + math.exp(-kk * (t(j) - tt)))
        s += r * r; j += 1
      }
      s
    }
    var cur = sse(l, k, t0)
    var lambda = 1e-3
    var it = 0
    while (it < 80) {
      // 3x3 normal equations J'J + gradient J'r with Jacobian columns
      // dL = s, dk = L·s·(1-s)·(t-t0), dt0 = -L·s·(1-s)·k
      var a11 = 0.0; var a12 = 0.0; var a13 = 0.0
      var a22 = 0.0; var a23 = 0.0; var a33 = 0.0
      var g1 = 0.0; var g2 = 0.0; var g3 = 0.0
      var j = 0
      while (j < m) {
        val s = 1.0 / (1.0 + math.exp(-k * (t(j) - t0)))
        val r = y(j) - l * s
        val w = l * s * (1.0 - s)
        val d1 = s
        val d2 = w * (t(j) - t0)
        val d3 = -w * k
        a11 += d1 * d1; a12 += d1 * d2; a13 += d1 * d3
        a22 += d2 * d2; a23 += d2 * d3; a33 += d3 * d3
        g1 += d1 * r; g2 += d2 * r; g3 += d3 * r
        j += 1
      }
      val b11 = a11 * (1 + lambda)
      val b22 = a22 * (1 + lambda)
      val b33 = a33 * (1 + lambda)
      // Cramer on the damped symmetric 3x3
      val det = b11 * (b22 * b33 - a23 * a23) -
        a12 * (a12 * b33 - a23 * a13) + a13 * (a12 * a23 - b22 * a13)
      if (det == 0 || det.isNaN) it = 80
      else {
        val dl = (g1 * (b22 * b33 - a23 * a23) -
          a12 * (g2 * b33 - a23 * g3) + a13 * (g2 * a23 - b22 * g3)) / det
        val dk = (b11 * (g2 * b33 - a23 * g3) -
          g1 * (a12 * b33 - a23 * a13) + a13 * (a12 * g3 - g2 * a13)) / det
        val dt = (b11 * (b22 * g3 - g2 * a23) -
          a12 * (a12 * g3 - g2 * a13) + g1 * (a12 * a23 - b22 * a13)) / det
        val ns = sse(l + dl, k + dk, t0 + dt)
        if (ns.isNaN || ns >= cur) {
          lambda *= 10
          if (lambda > 1e12) it = 80
        } else {
          val rel = math.max(math.max(
            math.abs(dl) / (math.abs(l) + java.lang.Double.MIN_VALUE),
            math.abs(dk) / (math.abs(k) + java.lang.Double.MIN_VALUE)),
            math.abs(dt) / (math.abs(t0) + java.lang.Double.MIN_VALUE))
          l += dl; k += dk; t0 += dt; cur = ns
          lambda = math.max(lambda * 0.3, 1e-12)
          if (rel < 1e-13 || cur <= 1e-28) it = 80
        }
      }
      it += 1
    }
    (l, k, t0)
  }

  /** Per-lane nonlinear least squares for the GAUSSIAN peak model
    * y = a·exp(-(t-mu)²/(2·sigma²)) — xarray `curvefit` with the
    * spectral/peak-fitting classic. Levenberg–Marquardt on the
    * 3-parameter model, seeded by the moment method over positive
    * values (mu₀ = Σt·y/Σy, sigma₀ from the second central moment,
    * a₀ = max y) — exact up to rounding on zero-residual data.
    * Deterministic sequential solve per lane. Returns (a, mu, sigma)
    * with sigma > 0 by convention (the model is even in sigma); NaN
    * triple when fewer than 3 valid points or no positive values. */
  private[ndarray] def fitGaussian(t: Array[Double], y: Array[Double],
                                   m: Int): (Double, Double, Double) = {
    var ymax = 0.0
    var sy = 0.0; var sty = 0.0
    var i = 0
    while (i < m) {
      if (y(i) > 0) {
        if (y(i) > ymax) ymax = y(i)
        sy += y(i); sty += t(i) * y(i)
      }
      i += 1
    }
    if (m < 3 || ymax <= 0 || sy <= 0)
      return (Double.NaN, Double.NaN, Double.NaN)
    var a = ymax
    var mu = sty / sy
    var s2 = 0.0
    i = 0
    while (i < m) {
      if (y(i) > 0) s2 += y(i) * (t(i) - mu) * (t(i) - mu)
      i += 1
    }
    var sg = math.sqrt(s2 / sy)
    if (!(sg > 0) || sg.isNaN) sg = 1.0
    def sse(aa: Double, m0: Double, s0: Double): Double = {
      var s = 0.0; var j = 0
      while (j < m) {
        val d = (t(j) - m0) / s0
        val r = y(j) - aa * math.exp(-0.5 * d * d)
        s += r * r; j += 1
      }
      s
    }
    var cur = sse(a, mu, sg)
    var lambda = 1e-3
    var it = 0
    while (it < 80) {
      // Jacobian columns: da = e, dmu = a·e·(t-mu)/s², ds = a·e·(t-mu)²/s³
      var a11 = 0.0; var a12 = 0.0; var a13 = 0.0
      var a22 = 0.0; var a23 = 0.0; var a33 = 0.0
      var g1 = 0.0; var g2 = 0.0; var g3 = 0.0
      var j = 0
      while (j < m) {
        val u = t(j) - mu
        val e = math.exp(-0.5 * u * u / (sg * sg))
        val r = y(j) - a * e
        val d1 = e
        val d2 = a * e * u / (sg * sg)
        val d3 = a * e * u * u / (sg * sg * sg)
        a11 += d1 * d1; a12 += d1 * d2; a13 += d1 * d3
        a22 += d2 * d2; a23 += d2 * d3; a33 += d3 * d3
        g1 += d1 * r; g2 += d2 * r; g3 += d3 * r
        j += 1
      }
      val b11 = a11 * (1 + lambda)
      val b22 = a22 * (1 + lambda)
      val b33 = a33 * (1 + lambda)
      val det = b11 * (b22 * b33 - a23 * a23) -
        a12 * (a12 * b33 - a23 * a13) + a13 * (a12 * a23 - b22 * a13)
      if (det == 0 || det.isNaN) it = 80
      else {
        val da = (g1 * (b22 * b33 - a23 * a23) -
          a12 * (g2 * b33 - a23 * g3) + a13 * (g2 * a23 - b22 * g3)) / det
        val dm = (b11 * (g2 * b33 - a23 * g3) -
          g1 * (a12 * b33 - a23 * a13) + a13 * (a12 * g3 - g2 * a13)) / det
        val ds = (b11 * (b22 * g3 - g2 * a23) -
          a12 * (a12 * g3 - g2 * a13) + g1 * (a12 * a23 - b22 * a13)) / det
        val ns = sse(a + da, mu + dm, sg + ds)
        if (ns.isNaN || ns >= cur || sg + ds == 0.0) {
          lambda *= 10
          if (lambda > 1e12) it = 80
        } else {
          val rel = math.max(math.max(
            math.abs(da) / (math.abs(a) + java.lang.Double.MIN_VALUE),
            math.abs(dm) / (math.abs(mu) + java.lang.Double.MIN_VALUE)),
            math.abs(ds) / (math.abs(sg) + java.lang.Double.MIN_VALUE))
          a += da; mu += dm; sg += ds; cur = ns
          lambda = math.max(lambda * 0.3, 1e-12)
          if (rel < 1e-13 || cur <= 1e-28) it = 80
        }
      }
      it += 1
    }
    (a, mu, math.abs(sg))
  }

  /** In-place tandem quicksort of `v[from, until)` ascending, with
    * `w` permuted alongside — the primitive-array index-free argsort
    * the weighted-quantile kernel needs (no boxing, no tuple
    * ordering). Median-of-three pivots, recursion on the smaller
    * partition (depth O(log n)), insertion sort below 16. Callers
    * exclude NaN beforehand (plain `<`/`>` comparisons). */
  private[ndarray] def sortTandem(v: Array[Double], w: Array[Double],
                                  from: Int, until: Int): Unit = {
    var lo = from
    var hi = until - 1
    while (hi - lo >= 16) {
      val mid = lo + ((hi - lo) >> 1)
      val a = v(lo); val b = v(mid); val c = v(hi)
      val pivot =
        if (a < b) { if (b < c) b else if (a < c) c else a }
        else { if (a < c) a else if (b < c) c else b }
      var i = lo
      var j = hi
      while (i <= j) {
        while (v(i) < pivot) i += 1
        while (v(j) > pivot) j -= 1
        if (i <= j) {
          val tv = v(i); v(i) = v(j); v(j) = tv
          val tw = w(i); w(i) = w(j); w(j) = tw
          i += 1; j -= 1
        }
      }
      if (j - lo < hi - i) { sortTandem(v, w, lo, j + 1); lo = i }
      else { sortTandem(v, w, i, hi + 1); hi = j }
    }
    var k = lo + 1
    while (k <= hi) {
      val kv = v(k); val kw = w(k)
      var p = k - 1
      while (p >= lo && v(p) > kv) {
        v(p + 1) = v(p); w(p + 1) = w(p); p -= 1
      }
      v(p + 1) = kv; w(p + 1) = kw
      k += 1
    }
  }

  /** Rolling-op dispatch shared by [[NdArray.rollingReduceAlong]] and
    * [[NdArray.rollingCenteredAlong]]: op string → (opId, quantile q).
    * `"quantile:<q>"` carries its order statistic inline (median is
    * the q=0.5 special case with pandas' mean-of-two-mids tie). */
  private[ndarray] def rollingOpId(op: String): (Int, Double) = op match {
    case "sum" => (0, 0.0)
    case "min" => (1, 0.0)
    case "max" => (2, 0.0)
    case "mean" => (3, 0.0)
    case "var" => (4, 0.0)
    case "std" => (5, 0.0)
    case "median" => (6, 0.0)
    case "count" => (7, 0.0)
    case q if q.startsWith("quantile:") =>
      val v = q.stripPrefix("quantile:").toDouble
      require(v >= 0.0 && v <= 1.0, s"rolling quantile $v outside [0, 1]")
      (8, v)
    case other => throw new IllegalArgumentException(
      s"unknown rolling op $other " +
        "(sum/min/max/mean/var/std/median/count/quantile:<q>)")
  }

  def zeros(dtype: DType, shape: Array[Int]): NdArray = {
    val n = shape.foldLeft(1L)(_ * _) * dtype.itemsize
    require(n <= Int.MaxValue, s"array too large: $n bytes")
    NdArray(dtype, shape.clone(), new Array[Byte](n.toInt))
  }

  /** Every element set as by `setDouble(_, value)`: the first element
    * is written once, then the filled prefix doubles by `arraycopy`. */
  def fill(dtype: DType, shape: Array[Int], value: Double): NdArray = {
    val a = zeros(dtype, shape)
    val n = a.data.length
    if (n == 0) return a
    a.setDouble(0, value)
    var filled = dtype.itemsize
    while (filled < n) {
      val k = math.min(filled, n - filled)
      System.arraycopy(a.data, 0, a.data, filled, k)
      filled += k
    }
    a
  }

  def fromDoubles(dtype: DType, shape: Array[Int], values: Array[Double]): NdArray = {
    val a = zeros(dtype, shape)
    require(a.size == values.length)
    var i = 0
    while (i < values.length) { a.setDouble(i, values(i)); i += 1 }
    a
  }

  def fromLongs(dtype: DType, shape: Array[Int], values: Array[Long]): NdArray = {
    val a = zeros(dtype, shape)
    require(a.size == values.length)
    var i = 0
    while (i < values.length) { a.setLong(i, values(i)); i += 1 }
    a
  }

  /** Assemble a dense array from a grid of blocks (np.block analogue —
    * the kernel inside consolidate_chunks, rechunk.py:107-131).
    * `blocks` are (startsInElements, block) pairs that must exactly tile
    * the output shape (validated by the caller). */
  def blockAssemble(dtype: DType, shape: Array[Int],
                    blocks: Seq[(Array[Int], NdArray)]): NdArray = {
    val out = zeros(dtype, shape)
    blocks.foreach { case (starts, b) => out.insert(starts, b) }
    out
  }
}
