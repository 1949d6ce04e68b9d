package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import graft.core.{Template, VarSpec}
import graft.ndarray.{DType, NdArray}
import graft.operators.RechunkPlanner
import graft.sources.Zarr

/** Geometry of the mock ERA5 surface store (the F1 fixture on a regular
  * lat/lon grid): `vars` float32 variables over (time, latitude,
  * longitude), 6-hourly from 1979-01-01, stored as zstd zarr v3
  * pancakes of `tChunk` time steps. `pencil` is the rechunk target's
  * (latitude, longitude) chunk; its time chunk is the full axis. */
final case class Era5Spec(times: Int, lats: Int, lons: Int, tChunk: Int,
                          pencil: (Int, Int),
                          vars: Seq[String] = Seq("asn", "d2m")) {
  def cells: Long = times.toLong * lats * lons
  def inputBytes: Long = cells * 4 * vars.size
  def inputMiB: Double = inputBytes / 1048576.0
  def sourceChunks: Map[String, Int] =
    Map("time" -> tChunk, "latitude" -> lats, "longitude" -> lons)
  def targetChunks: Map[String, Int] =
    Map("time" -> times, "latitude" -> pencil._1, "longitude" -> pencil._2)
  def dims: Seq[(String, Long)] =
    Seq("time" -> times.toLong, "latitude" -> lats.toLong, "longitude" -> lons.toLong)
}

object Era5Spec {
  /** The reference's dummy ERA5 surface dataset (test_util.py): one
    * year 6-hourly on a 2.5° grid, 1460 x 73 x 144, 2 variables,
    * 117 MiB. Pencils of 8 x 12 cells keep the target chunk below 1% of
    * the array, the window in which the planner (min_mem = max_mem /
    * 100) needs two stages. */
  val full = Era5Spec(1460, 73, 144, 4, (8, 12))
  /** Under 2 MiB, for the harness's own smoke test. */
  val tiny = Era5Spec(192, 19, 36, 1, (2, 3))
}

/** Deterministic field generator and the two ERA5 pipelines' checks. */
final class Era5(val spec: Era5Spec, seed: Long, cores: Int) {
  import spec._

  private val baseNs = java.time.Instant.parse("1979-01-01T00:00:00Z")
    .getEpochSecond * 1000000000L
  private val stepNs = 6L * 3600 * 1000000000L
  val timeNs: Array[Long] = Array.tabulate(times)(t => baseNs + t * stepNs)

  // Smooth climate-like field: zonal mean + seasonal cycle scaled by
  // latitude + a diurnal wave travelling in longitude + seeded noise,
  // quantized to 1/64 K so zstd finds real but partial redundancy.
  private val latRad = Array.tabulate(lats)(i =>
    math.toRadians(90.0 - i * 180.0 / math.max(1, lats - 1)))
  private val zonal = latRad.map(r => 250.0 + 40.0 * math.cos(r))
  private val seasonAmp = latRad.map(r => 15.0 * math.sin(r))
  private val season = Array.tabulate(times)(t =>
    math.cos(2 * math.Pi * (t / 4.0 - 15.0) / 365.25))
  private val diurnal = Array.tabulate(4, lons)((h, j) =>
    4.0 * math.cos(2 * math.Pi * (h / 4.0 + j.toDouble / lons)))

  private def noise(v: Int, t: Int, i: Int, j: Int): Double = {
    var z = seed * 0x9E3779B97F4A7C15L + (((v.toLong * times + t) * lats + i) * lons + j)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    ((z >>> 11).toDouble / (1L << 53).toDouble) * 3.0 - 1.5
  }

  def value(v: Int, t: Int, i: Int, j: Int): Float = {
    val x = zonal(i) + seasonAmp(i) * season(t) + diurnal(t % 4)(j) +
      3.0 * v + noise(v, t, i, j)
    (math.rint(x * 64) / 64).toFloat
  }

  /** Values of variable `v` on the box [t0, t0+nt) x [i0, i0+ni) x
    * [j0, j0+nj), C order, as a float32 NdArray. */
  def block(v: Int, t0: Int, nt: Int, i0: Int, ni: Int, j0: Int, nj: Int): NdArray = {
    val bytes = new Array[Byte](nt * ni * nj * 4)
    val fb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
    var k = 0
    var t = 0
    while (t < nt) {
      var i = 0
      while (i < ni) {
        var j = 0
        while (j < nj) { fb.put(k, value(v, t0 + t, i0 + i, j0 + j)); k += 1; j += 1 }
        i += 1
      }
      t += 1
    }
    NdArray(DType.F32, Array(nt, ni, nj), bytes)
  }

  def template: Template = Template(dims,
    vars.map(_ -> VarSpec(Seq("time", "latitude", "longitude"), DType.F32)).toMap,
    Map(
      "time" -> NdArray.fromLongs(DType.TimeNs, Array(times), timeNs),
      "latitude" -> NdArray.fromDoubles(DType.F64, Array(lats),
        latRad.map(math.toDegrees)),
      "longitude" -> NdArray.fromDoubles(DType.F64, Array(lons),
        Array.tabulate(lons)(j => j * 360.0 / lons))),
    Map("global_attr" -> "yes"))

  def parallel[T](n: Int)(task: Int => T): Seq[T] = Util.parallel(n, cores)(task)

  /** Write the source store: zstd zarr v3 pancakes. */
  def writeSource(path: String): Unit = {
    Zarr.setupStore(path, template, sourceChunks, compressor = Some("zstd"),
      zarrFormat = 3)
    val metas = vars.map(n => Zarr.readArrayMeta(path, n))
    val nChunks = (times + tChunk - 1) / tChunk
    parallel(vars.size * nChunks) { k =>
      val v = k / nChunks
      val t0 = (k % nChunks) * tChunk
      val nt = math.min(tChunk, times - t0)
      Zarr.writeRegion(path, vars(v), metas(v), Array(t0.toLong, 0L, 0L),
        block(v, t0, nt, 0, lats, 0, lons))
    }
  }

  /** Bit-for-bit check of a rechunked copy against the generator, read
    * back one target pencil at a time. Returns the number of mismatching
    * values; every value of a variable that is not stored in the target
    * chunking counts as a mismatch. */
  def mismatches(path: String): Long = {
    val metas = vars.map(n => Zarr.readArrayMeta(path, n))
    val want = dims.map(d => targetChunks(d._1))
    val misChunked = metas.count(_.chunks != want) * cells
    val (pl, pj) = pencil
    val nl = (lats + pl - 1) / pl
    val nj = (lons + pj - 1) / pj
    parallel(vars.size * nl * nj) { k =>
      val v = k / (nl * nj)
      val i0 = (k / nj % nl) * pl
      val j0 = (k % nj) * pj
      val (ni, nn) = (math.min(pl, lats - i0), math.min(pj, lons - j0))
      val got = Zarr.readRegion(path, vars(v), metas(v),
        Array(0L, i0.toLong, j0.toLong), Array(times, ni, nn))
      val want = block(v, 0, times, i0, ni, j0, nn)
      if (got.dtype != DType.F32) got.size
      else {
        val (g, w) = (ByteBuffer.wrap(got.data).asIntBuffer(), ByteBuffer.wrap(want.data).asIntBuffer())
        (0 until g.limit()).count(q => g.get(q) != w.get(q)).toLong
      }
    }.sum + misChunked
  }

  /** (month - 1) * 4 + hour / 6: the 48 (month, hour-of-day) groups. */
  def groupOf(t: Int): Long = {
    val ldt = java.time.LocalDateTime.ofEpochSecond(timeNs(t) / 1000000000L, 0,
      java.time.ZoneOffset.UTC)
    (ldt.getMonthValue - 1) * 4L + ldt.getHour / 6
  }

  /** The single-threaded reference climatology: read the source store
    * one pancake at a time and reduce each time step into its group's
    * (sum, count) with NdArray.sumCount. Returns per variable the group
    * means, shape (groups, lats, lons) flattened, groups in ascending
    * group id order. */
  def referenceClimatology(src: String): Map[String, Array[Double]] = {
    val groups = (0 until times).map(groupOf).distinct.sorted
    val gi = groups.zipWithIndex.toMap
    val plane = lats * lons
    vars.map { n =>
      val meta = Zarr.readArrayMeta(src, n)
      val sums = new Array[Double](groups.size * plane)
      val counts = new Array[Double](groups.size * plane)
      var t0 = 0
      while (t0 < times) {
        val nt = math.min(tChunk, times - t0)
        val chunk = Zarr.readRegion(src, n, meta, Array(t0.toLong, 0L, 0L),
          Array(nt, lats, lons))
        var t = 0
        while (t < nt) {
          val step = chunk.slice(Array(t, 0, 0), Array(1, lats, lons))
          val (s, c) = step.sumCount(Array(0), skipna = true)
          val (sd, cd) = (s.toDoubles, c.toDoubles)
          val base = gi(groupOf(t0 + t)) * plane
          var q = 0
          while (q < plane) { sums(base + q) += sd(q); counts(base + q) += cd(q); q += 1 }
          t += 1
        }
        t0 += nt
      }
      n -> Array.tabulate(sums.length)(q => sums(q) / counts(q))
    }.toMap
  }

  /** Values farther than `relTol` (relative, floor 1) from the reference
    * in the climatology store at `path`. */
  def climatologyMismatches(path: String, ref: Map[String, Array[Double]],
                            relTol: Double): Long = vars.map { n =>
    val meta = Zarr.readArrayMeta(path, n)
    val got = Zarr.readRegion(path, n, meta, Array.fill(meta.shape.size)(0L),
      meta.shape.map(_.toInt).toArray).toDoubles
    val want = ref(n)
    if (got.length != want.length) want.length.toLong
    else got.indices.count { q =>
      !(math.abs(got(q) - want(q)) <= relTol * math.max(1.0, math.abs(want(q))))
    }.toLong
  }.sum

  /** A multistage plan for the pencil rechunk: the largest memory bound
    * (from a geometric ladder starting at the target chunk size) for
    * which the planner still needs at least two stages. */
  def rechunkPlan(itemsize: Long): (Long, RechunkPlanner.Plan) = {
    val order = dims.map(_._1)
    val shape = dims.map(_._2).toVector
    val src = order.map(d => sourceChunks(d).toLong).toVector
    val tgt = order.map(d => targetChunks(d).toLong).toVector
    val floor = itemsize * math.max(src.product, tgt.product)
    val ladder = Iterator.iterate(floor)(m => m * 5 / 4).takeWhile(_ < floor * 64).toSeq
    val plans = ladder.map(m =>
      m -> RechunkPlanner.multistagePlan(shape, src, tgt, itemsize, m / 100, m))
    plans.filter(_._2.stages.size >= 2).lastOption.getOrElse(plans.head)
  }
}
