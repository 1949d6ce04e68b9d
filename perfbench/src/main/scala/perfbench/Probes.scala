package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, sum}

import graft.api.TabularBridge
import graft.core.ChunkKey
import graft.ndarray.{DType, NdArray}
import graft.sources.Zarr

/** Layer probes: direct calls into `sources`, `ndarray`, `core`,
  * `operators`, `api` and `functions` on inputs shaped like the
  * workloads' chunks. Every probe that reports a bandwidth works on at
  * least `minBytes` (4x a 105 MiB L3 by default), so it measures memory
  * and codec throughput rather than cache hits. */
final class Probes(spark: SparkSession, tracer: Tracer, work: Path,
                   seed: Long, cores: Int, minBytes: Long) {

  private val MiB = 1048576.0
  private def timed[T](name: String)(body: => T): (T, Double) =
    tracer.span(name, "probe") {
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"probe $name $dt%.3f s")
      (r, dt)
    }

  /** Median seconds of `reps` runs of `body`. */
  private def med(name: String, reps: Int)(body: => Unit): Double =
    Util.median((1 to reps).map(_ => timed(name)(body)._2))

  /** One variable of ERA5-shaped pancakes, at least `minBytes` in all. */
  private lazy val era5 = {
    val base = Era5Spec.full
    val steps = math.ceil(minBytes / (4.0 * base.lats * base.lons)).toInt
    new Era5(base.copy(times = (steps + 3) / 4 * 4, vars = Seq("v")), seed, cores)
  }
  private lazy val pancakes: IndexedSeq[NdArray] = {
    val s = era5.spec
    era5.parallel(s.times / s.tChunk)(k =>
      era5.block(0, k * s.tChunk, s.tChunk, 0, s.lats, 0, s.lons)).toIndexedSeq
  }
  private def totalMiB: Double = pancakes.map(_.nbytes).sum / MiB

  /** Zarr.writeRegion / readRegion per codec, pancakes written and read
    * in parallel on `cores` threads. Returns the metrics. */
  def sources(): Map[String, Double] = {
    val s = era5.spec
    val out = Seq("zstd", "gzip", "blosc").flatMap { codec =>
      val dir = work.resolve(s"probe_$codec").toString
      Util.deleteRecursively(work.resolve(s"probe_$codec"))
      Zarr.setupStore(dir, era5.template, s.sourceChunks, compressor = Some(codec),
        zarrFormat = 3)
      val meta = Zarr.readArrayMeta(dir, "v")
      val (_, wSec) = timed(s"write/$codec") {
        era5.parallel(pancakes.size)(k =>
          Zarr.writeRegion(dir, "v", meta, Array(k.toLong * s.tChunk, 0L, 0L), pancakes(k)))
      }
      val onDisk = Util.dirBytes(work.resolve(s"probe_$codec"))
      val rSec = med(s"read/$codec", 1) {
        era5.parallel(pancakes.size)(k =>
          Zarr.readRegion(dir, "v", meta, Array(k.toLong * s.tChunk, 0L, 0L),
            Array(s.tChunk, s.lats, s.lons)))
      }
      Util.deleteRecursively(work.resolve(s"probe_$codec"))
      Seq(s"sources.decode_mb_s.$codec" -> totalMiB / rSec) ++
        (if (codec == "zstd") Seq("sources.encode_mb_s.zstd" -> totalMiB / wSec,
          "sources.compress_ratio" -> pancakes.map(_.nbytes).sum.toDouble / onDisk)
        else Nil)
    }
    out.toMap
  }

  /** The chunk kernels the rechunk and the climatology run, single
    * threaded: split pancakes into pencil pieces (slice), reassemble
    * pieces into pencils (blockAssemble, the consolidate kernel) and
    * reduce each pancake over time (sumCount). */
  def ndarray(pencil: (Int, Int)): Map[String, Double] = {
    val s = era5.spec
    val (pl, pj) = pencil
    val boxes = for (i <- 0 until s.lats by pl; j <- 0 until s.lons by pj)
      yield (i, j, math.min(pl, s.lats - i), math.min(pj, s.lons - j))
    def pieces(p: NdArray) = boxes.map { case (i, j, ni, nj) =>
      p.slice(Array(0, i, j), Array(p.shape(0), ni, nj))
    }
    val sliceSec = med("slice", 1) { pancakes.foreach(pieces) }
    // consolidate: the pieces of one pencil column from every pancake
    val cut = pancakes.map(pieces)
    val concatSec = med("blockAssemble", 1) {
      boxes.indices.foreach { b =>
        val (_, _, ni, nj) = boxes(b)
        NdArray.blockAssemble(DType.F32, Array(s.times, ni, nj),
          cut.indices.map(k => (Array(k * s.tChunk, 0, 0), cut(k)(b))))
      }
    }
    val reduceSec = med("sumCount", 1) {
      pancakes.foreach(_.sumCount(Array(0), skipna = true))
    }
    Map("ndarray.slice_mb_s" -> totalMiB / sliceSec,
      "ndarray.blockconcat_mb_s" -> totalMiB / concatSec,
      "ndarray.reduce_mb_s" -> totalMiB / reduceSec)
  }

  /** ChunkKey.canonical on 3-d pancake keys with a variable name. */
  def core(keys: Int = 200000): Map[String, Double] = {
    val ks = Array.tabulate(keys)(k => ChunkKey(Map("time" -> 4L * k,
      "latitude" -> (k % 7) * 32L, "longitude" -> (k % 11) * 36L), Some(Seq("asn"))))
    var sink = 0
    val sec = med("canonical", 3) { ks.foreach(k => sink += k.canonical.length) }
    require(sink > 0)
    Map("core.chunkkey_canonical_ns" -> sec * 1e9 / keys, "core.chunks" -> keys.toDouble)
  }

  /** RechunkPlanner.multistagePlan for the era5_rechunk spec. */
  def operators(spec: Era5Spec): Map[String, Double] = {
    val e = new Era5(spec, seed, cores)
    val (maxMem, plan) = timed("multistagePlan")(e.rechunkPlan(4L * spec.vars.size))._1
    val shape = spec.dims.map(_._2).toVector
    val inter = plan.stages.map { st =>
      shape.indices.map(d => graft.operators.RechunkPlanner
        .countIntermediateChunks(st.read(d), st.write(d), shape(d))).product
    }.sum
    Map("operators.rechunk_stages" -> plan.stages.size.toDouble,
      "operators.rechunk_intermediate_chunks" -> inter.toDouble,
      "operators.rechunk_max_mem_mb" -> maxMem / MiB)
  }

  /** TabularBridge.fromDataFrame then toDataFrame on an events-shaped
    * grid (t = event_id div 50, x = event_id % 50), fully materialized. */
  def bridge(rows: Long = 100000): Map[String, Double] = {
    val w = 50L
    val df = spark.range(rows).selectExpr(s"id div $w AS t", s"id % $w AS x",
      s"CAST((id * 7919 + $seed) % 1500 AS BIGINT) AS uid",
      s"CAST((id * 104729 + $seed) % 500 AS DOUBLE) AS vf").cache()
    df.count()
    val sec = med("fromDataFrame+toDataFrame", 3) {
      val xds = TabularBridge.fromDataFrame(df, spark,
        dims = Seq("t" -> rows / w, "x" -> w),
        vars = Seq("uid" -> DType.I64, "vf" -> DType.F64),
        chunks = Map("t" -> 16, "x" -> 16))
      TabularBridge.toDataFrame(xds).agg(sum(col("vf"))).collect()
    }
    df.unpersist()
    Map("api.bridge_rows_per_s" -> 2.0 * rows / sec)
  }

  /** The codegen expressions behind the dedup and vector gates. */
  def functions(rows: Long = 200000): Map[String, Double] = {
    graft.functions.GraftFunctions.register(spark)
    val sets = spark.range(rows).select(
      expr(s"array_sort(array_distinct(transform(sequence(0, 40), " +
        s"i -> (id * 31 + i * 17 + $seed) % 101)))").as("a"),
      expr(s"array_sort(array_distinct(transform(sequence(0, 40), " +
        s"i -> (id * 13 + i * 29 + $seed) % 101)))").as("b")).cache()
    sets.count()
    val inter = med("sorted_intersect_count", 3) {
      sets.agg(sum(expr("sorted_intersect_count(a, b)"))).collect()
    }
    sets.unpersist()
    val vecs = spark.range(rows).select(
      expr(s"transform(sequence(0, 63), i -> CAST(sin(id + i + $seed) AS FLOAT))").as("u"),
      expr(s"transform(sequence(0, 63), i -> CAST(cos(id * 3 + i) AS FLOAT))").as("v")).cache()
    vecs.count()
    val dot = med("vec_dot", 3) {
      vecs.agg(sum(expr("vec_dot(u, v)"))).collect()
    }
    vecs.unpersist()
    Map("functions.sorted_intersect_rows_s" -> rows / inter,
      "functions.vec_dot_rows_s" -> rows / dot)
  }
}
