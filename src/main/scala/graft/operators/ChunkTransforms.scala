package graft.operators

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

import graft.core.{ArrayChunk, ChunkGrid, ChunkKey, VarArray}
import graft.ndarray.{DType, NdArray}

/** Spark transforms over a distributed chunked dataset
  * `Dataset[(ChunkKey, ArrayChunk)]` — the engine's equivalent of the
  * reference's PCollection-of-pairs (SURVEY §1.4).
  *
  * Chunk payloads are opaque tensors, so pairs travel Kryo-encoded;
  * shuffle keys are the deterministic canonical key strings (mirroring
  * the reference's deterministic KeyCoder, core.py:250-265). Shuffles
  * sit where the reference has GroupByKey (consolidate, per-key mean),
  * with one exception: a rechunk merges its variables in its last
  * consolidate, so ConsolidateVariables costs no shuffle of its own
  * there. Split is a narrow flatMap. Map-side partial aggregation for
  * mean comes from reduceGroups (Spark plans partial_reduce before the
  * exchange), replacing the reference's hand-built fanout schedule
  * (combiners.py:219-291).
  */
object ChunkTransforms {

  type Pair = (ChunkKey, ArrayChunk)

  implicit val pairEnc: Encoder[Pair] = Encoders.kryo[Pair]
  implicit val taggedEnc: Encoder[(String, Pair)] = Encoders.kryo[(String, Pair)]

  def splitChunks(ds: Dataset[Pair], target: Map[String, Int]): Dataset[Pair] =
    ds.flatMap { p: Pair => ChunkOps.splitChunks(p._1, p._2, target) }

  // ------------------------------------------------- approximate quantile

  /** Bounds pass of the approximate-quantile sketch: exact per-cell
    * (min, max) over `dims` in ONE keyed shuffle, emitted as
    * `<v>__lo` / `<v>__hi` variables (kept dims, F64). Variables
    * spanning none of `dims` pass through unchanged so the bounds
    * dataset covers every kept chunk position (the [[ReduceAcc]]
    * passthrough contract). */
  def boundsReduce(ds: Dataset[Pair], dims: Set[String],
                   skipna: Boolean): Dataset[Pair] = {
    implicit val accEnc: Encoder[(ChunkKey, ReduceAcc, ReduceAcc)] =
      Encoders.kryo[(ChunkKey, ReduceAcc, ReduceAcc)]
    ds.map { p: Pair =>
      val nk = p._1.copy(offsets = p._1.offsets -- dims)
      (nk, ReduceAcc.ofChunk(p._2, dims, "min", skipna),
        ReduceAcc.ofChunk(p._2, dims, "max", skipna))
    }
      .groupByKey { kv: (ChunkKey, ReduceAcc, ReduceAcc) => kv._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, ReduceAcc, ReduceAcc),
                       b: (ChunkKey, ReduceAcc, ReduceAcc)) =>
        (a._1, a._2.merge(b._2), a._3.merge(b._3))
      }
      .map { kv: (String, (ChunkKey, ReduceAcc, ReduceAcc)) =>
        val (k, mnAcc, mxAcc) = kv._2
        val mn = mnAcc.extract
        val mx = mxAcc.extract
        // touched vars (reduced by min/max) rename to __lo/__hi; the
        // passthrough replicas (present identically in both extracts)
        // keep their names once
        val touched = mnAcc.parts.headOption
          .map(_.vars.keySet).getOrElse(Set.empty[String])
        (k, ArrayChunk(
          mn.vars.collect { case (n, va) if touched(n) => s"${n}__lo" -> va } ++
          mx.vars.collect { case (n, va) if touched(n) => s"${n}__hi" -> va } ++
          mn.vars.filterNot(kv2 => touched(kv2._1))))
      }
  }

  /** Merged-histogram accumulator of the approximate quantile: per kept
    * cell an equi-width integer histogram of `bins` bins over that
    * cell's exact [lo, hi] (from [[boundsReduce]], attached to every
    * chunk before this pass). Bin edges are fixed plan-wide per cell, so
    * merge is pointwise addition — associative, commutative, and
    * bit-deterministic under ANY partitioning (unlike a t-digest, whose
    * centroids depend on merge order; determinism is what lets a SQL
    * oracle reproduce the sketch exactly). The quantile estimate places
    * the k-th order statistic uniformly inside its bin, so
    * |approx − exact| <= (hi − lo) / bins per cell — the stated error
    * bound. `hists` dims are the kept dims plus a trailing bin axis. */
  final case class HistAcc(hists: Map[String, VarArray],
                           los: Map[String, VarArray],
                           his: Map[String, VarArray],
                           passthrough: ArrayChunk) {
    def merge(other: HistAcc): HistAcc =
      HistAcc(hists.map { case (n, va) =>
        n -> VarArray(va.dims, va.arr.zipF64(other.hists(n).arr)(_ + _))
      }, los, his, passthrough)

    /** Per-cell quantile from the merged histogram. The estimator (and
      * the oracle SQL mirroring it) in this exact expression order:
      *   w  = (hi − lo) / bins
      *   h  = q · (n − 1);  k0 = floor(h);  k1 = min(k0 + 1, n − 1)
      *   est(k) = lo + w · (b + ((k − cumBefore) + 0.5) / cnt_b)
      *   result = est(k0) + (h − k0) · (est(k1) − est(k0))
      * Empty/poisoned cells (NaN bounds) yield NaN; constant cells
      * (hi == lo) yield the exact value. */
    def extract(q: Double, bins: Int): ArrayChunk =
      extractMulti(Seq(q), Seq(""), bins)

    /** Several quantiles from ONE merged histogram (the multi-q form —
      * the bounds pass, fill pass, and shuffle are all paid once); each
      * q lands as `<var><suffix>`. */
    def extractMulti(qs: Seq[Double], suffixes: Seq[String],
                     bins: Int): ArrayChunk = {
      val computed = hists.flatMap { case (n, hva) =>
        val lo = los(n).arr
        val hi = his(n).arr
        val keptDims = hva.dims.dropRight(1)
        val keptShape = hva.arr.shape.dropRight(1)
        val outs = qs.map(_ => NdArray.zeros(DType.F64, keptShape))
        val cells = outs.head.size
        var cell = 0L
        while (cell < cells) {
          val l = lo.getDouble(cell)
          val hb = hi.getDouble(cell)
          val base = cell * bins
          var nTot = 0L
          var b = 0
          while (b < bins) { nTot += hva.arr.getDouble(base + b).toLong; b += 1 }
          var qi = 0
          while (qi < qs.length) {
            val q = qs(qi)
            val v =
              if (nTot == 0L || l.isNaN || hb.isNaN) Double.NaN
              else if (hb == l) l
              else {
                val w = (hb - l) / bins
                val h = q * (nTot - 1)
                val k0 = math.floor(h).toLong
                val k1 = math.min(k0 + 1, nTot - 1)
                var cum = 0L
                var e0 = Double.NaN
                var e1 = Double.NaN
                b = 0
                while (b < bins && (e0.isNaN || e1.isNaN)) {
                  val cnt = hva.arr.getDouble(base + b).toLong
                  if (cnt > 0) {
                    if (e0.isNaN && k0 < cum + cnt)
                      e0 = l + w * (b + ((k0 - cum) + 0.5) / cnt)
                    if (e1.isNaN && k1 < cum + cnt)
                      e1 = l + w * (b + ((k1 - cum) + 0.5) / cnt)
                    cum += cnt
                  }
                  b += 1
                }
                e0 + (h - k0) * (e1 - e0)
              }
            outs(qi).setDouble(cell, v)
            qi += 1
          }
          cell += 1
        }
        qs.indices.map(i => s"$n${suffixes(i)}" -> VarArray(keptDims, outs(i)))
      }
      ArrayChunk(computed ++ passthrough.vars)
    }

    /** Weighted-mass quantile from a histogram whose bins hold Σweight
      * instead of counts: the estimate is the value below which a
      * q-fraction of the TOTAL WEIGHT lies. Estimator (mirrored by the
      * oracle SQL):
      *   w = (hi − lo) / bins;  h = q · Wtot
      *   take the FIRST bin (ascending, zero-mass bins skipped) with
      *   h <= cumBefore + mass_b;  est = lo + w · (b + (h − cumBefore)
      *   / mass_b)
      * Exact-summable (integer-valued) weights make the result
      * bit-deterministic under any partitioning, same as the counted
      * sketch. Empty/NaN-bounded cells yield NaN; constant cells the
      * exact value. */
    def extractWeighted(q: Double, bins: Int): ArrayChunk = {
      val computed = hists.map { case (n, hva) =>
        val lo = los(n).arr
        val hi = his(n).arr
        val keptDims = hva.dims.dropRight(1)
        val keptShape = hva.arr.shape.dropRight(1)
        val out = NdArray.zeros(DType.F64, keptShape)
        val cells = out.size
        var cell = 0L
        while (cell < cells) {
          val l = lo.getDouble(cell)
          val hb = hi.getDouble(cell)
          val base = cell * bins
          var wTot = 0.0
          var b = 0
          while (b < bins) { wTot += hva.arr.getDouble(base + b); b += 1 }
          val v =
            if (wTot <= 0.0 || l.isNaN || hb.isNaN) Double.NaN
            else if (hb == l) l
            else {
              val w = (hb - l) / bins
              val h = q * wTot
              if (h == 0.0) l
              else {
                var cum = 0.0
                var est = Double.NaN
                b = 0
                while (b < bins && est.isNaN) {
                  val cnt = hva.arr.getDouble(base + b)
                  if (cnt > 0.0) {
                    if (h <= cum + cnt) est = l + w * (b + (h - cum) / cnt)
                    cum += cnt
                  }
                  b += 1
                }
                est
              }
            }
          out.setDouble(cell, v)
          cell += 1
        }
        n -> VarArray(keptDims, out)
      }
      ArrayChunk(computed ++ passthrough.vars)
    }
  }

  object HistAcc {
    /** Per-chunk partial histograms. The chunk must carry `<v>__lo` /
      * `<v>__hi` for every variable spanning `dims` (kept-dims shaped,
      * attached via zipReduced from [[boundsReduce]]'s output). One
      * odometer walk per variable fills the bins — O(chunk elements)
      * with incremental kept-index strides, no per-element index math. */
    def ofChunk(chunk: ArrayChunk, dims: Set[String], bins: Int): HistAcc = {
      val isBoundsVar = (n: String) => n.endsWith("__lo") || n.endsWith("__hi")
      val touched = chunk.vars.filter { case (n, va) =>
        !isBoundsVar(n) && va.dims.exists(dims)
      }
      val passthrough = ArrayChunk(chunk.vars.filter { case (n, va) =>
        !isBoundsVar(n) && !va.dims.exists(dims)
      })
      val hists = touched.map { case (n, va) =>
        val loVa = chunk.vars.getOrElse(s"${n}__lo", throw new IllegalStateException(
          s"histogram pass: chunk lacks bounds var ${n}__lo"))
        val hiVa = chunk.vars(s"${n}__hi")
        val keptDims = va.dims.filterNot(dims)
        require(loVa.dims == keptDims,
          s"bounds dims ${loVa.dims} != kept dims $keptDims for $n")
        n -> VarArray(keptDims :+ "__bin",
          fillHist(va, dims, bins, loVa.arr, hiVa.arr))
      }
      HistAcc(hists,
        touched.map { case (n, _) => n -> chunk.vars(s"${n}__lo") },
        touched.map { case (n, _) => n -> chunk.vars(s"${n}__hi") },
        passthrough)
    }

    /** Weighted partial histograms: like [[ofChunk]] but each element
      * contributes its WEIGHT (the aligned cell of `weightVar`, which
      * must share the variable's exact dim order) instead of 1. The
      * weight variable itself is excluded from outputs; NaN data or
      * NaN/negative-weight elements contribute nothing. */
    def ofChunkWeighted(chunk: ArrayChunk, dims: Set[String], bins: Int,
                        weightVar: String): HistAcc = {
      val isBoundsVar = (n: String) => n.endsWith("__lo") || n.endsWith("__hi")
      val wVa = chunk.vars.getOrElse(weightVar, throw new IllegalStateException(
        s"weighted histogram pass: chunk lacks weight var $weightVar"))
      val touched = chunk.vars.filter { case (n, va) =>
        !isBoundsVar(n) && n != weightVar && va.dims.exists(dims)
      }
      val passthrough = ArrayChunk(chunk.vars.filter { case (n, va) =>
        !isBoundsVar(n) && n != weightVar && !va.dims.exists(dims)
      })
      val hists = touched.map { case (n, va) =>
        require(wVa.dims == va.dims,
          s"weight var $weightVar dims ${wVa.dims} must match $n's ${va.dims}")
        val loVa = chunk.vars.getOrElse(s"${n}__lo", throw new IllegalStateException(
          s"weighted histogram pass: chunk lacks bounds var ${n}__lo"))
        val hiVa = chunk.vars(s"${n}__hi")
        val keptDims = va.dims.filterNot(dims)
        require(loVa.dims == keptDims,
          s"bounds dims ${loVa.dims} != kept dims $keptDims for $n")
        n -> VarArray(keptDims :+ "__bin",
          fillHist(va, dims, bins, loVa.arr, hiVa.arr, wVa.arr))
      }
      HistAcc(hists,
        touched.map { case (n, _) => n -> chunk.vars(s"${n}__lo") },
        touched.map { case (n, _) => n -> chunk.vars(s"${n}__hi") },
        passthrough)
    }

    /** Partial histograms for a chunk/slice whose bounds come from the
      * CALLER (per-group bounds cut out of a broadcast — the
      * grouped-quantile path) rather than from attached `__lo`/`__hi`
      * vars. `boundsOf(n)` returns this slice's (lo, hi) arrays in kept
      * shape. */
    def ofSlice(sliced: ArrayChunk, dims: Set[String], bins: Int,
                boundsOf: String => (NdArray, NdArray)): HistAcc = {
      val touched = sliced.vars.filter(_._2.dims.exists(dims))
      val hists = touched.map { case (n, va) =>
        val (lo, hi) = boundsOf(n)
        val keptDims = va.dims.filterNot(dims)
        n -> VarArray(keptDims :+ "__bin", fillHist(va, dims, bins, lo, hi))
      }
      HistAcc(hists,
        touched.map { case (n, va) =>
          n -> VarArray(va.dims.filterNot(dims), boundsOf(n)._1) },
        touched.map { case (n, va) =>
          n -> VarArray(va.dims.filterNot(dims), boundsOf(n)._2) },
        ArrayChunk(Map.empty))
    }

    /** One odometer walk filling the per-kept-cell equi-width bins —
      * O(slice elements) with incremental kept-offset strides. */
    private def fillHist(va: VarArray, dims: Set[String], bins: Int,
                         loArr: NdArray, hiArr: NdArray,
                         weights: NdArray = null): NdArray = {
      val s = va.arr.shape
      val nd = s.length
      val keptDims = va.dims.filterNot(dims)
      // stride of each dim's index in the kept-cell flat offset
      // (0 for reduced dims)
      val keptStride = new Array[Long](nd)
      var acc = 1L
      var j = nd - 1
      while (j >= 0) {
        if (!dims(va.dims(j))) { keptStride(j) = acc; acc *= s(j) }
        j -= 1
      }
      val hist = NdArray.zeros(DType.F64,
        keptDims.map(d => s(va.dims.indexOf(d))).toArray :+ bins)
      val total = va.arr.size
      val idx = new Array[Int](nd)
      var keptFlat = 0L
      var i = 0L
      while (i < total) {
        val v = va.arr.getDouble(i)
        if (!v.isNaN) {
          val l = loArr.getDouble(keptFlat)
          val hb = hiArr.getDouble(keptFlat)
          if (!l.isNaN && !hb.isNaN) {
            val wt =
              if (weights == null) 1.0
              else { val x = weights.getDouble(i); if (x.isNaN) 0.0 else x }
            if (wt > 0.0) {
              val b =
                if (hb == l) 0
                else math.min(bins - 1,
                  math.floor((v - l) / ((hb - l) / bins)).toInt)
              val off = keptFlat * bins + b
              hist.setDouble(off, hist.getDouble(off) + wt)
            }
          }
        }
        // odometer increment with incremental kept-offset update
        var d = nd - 1
        var carry = true
        while (carry && d >= 0) {
          idx(d) += 1
          keptFlat += keptStride(d)
          if (idx(d) == s(d)) {
            idx(d) = 0
            keptFlat -= keptStride(d) * s(d)
            d -= 1
          } else carry = false
        }
        i += 1
      }
      hist
    }
  }

  /** Histogram pass of the approximate quantile: per-chunk partials,
    * ONE keyed shuffle with map-side combine (reduceGroups), extract.
    * Same distributed shape as [[reduceDims]]; the shuffled payload per
    * kept cell is `bins` doubles, independent of the reduced extent.
    * One bounds attach, one fill, one shuffle for all of `qs`; each q
    * extracts as `<var><suffix>`. */
  def histQuantilesReduce(ds: Dataset[Pair], dims: Set[String],
                          qs: Seq[Double], suffixes: Seq[String],
                          bins: Int): Dataset[Pair] = {
    implicit val accEnc: Encoder[(ChunkKey, HistAcc)] =
      Encoders.kryo[(ChunkKey, HistAcc)]
    ds.map { p: Pair =>
      val nk = p._1.copy(offsets = p._1.offsets -- dims)
      (nk, HistAcc.ofChunk(p._2, dims, bins))
    }
      .groupByKey { kv: (ChunkKey, HistAcc) => kv._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, HistAcc), b: (ChunkKey, HistAcc)) =>
        (a._1, a._2.merge(b._2))
      }
      .map { kv: (String, (ChunkKey, HistAcc)) =>
        (kv._2._1, kv._2._2.extractMulti(qs, suffixes, bins))
      }
  }

  /** Weighted-mass approximate quantile: same one-shuffle shape as
    * [[histQuantilesReduce]], bins accumulate Σweight, extraction takes
    * the q-fraction of total weight ([[HistAcc.extractWeighted]]). */
  def weightedHistQuantileReduce(ds: Dataset[Pair], dims: Set[String],
                                 q: Double, weightVar: String,
                                 bins: Int): Dataset[Pair] = {
    implicit val accEnc: Encoder[(ChunkKey, HistAcc)] =
      Encoders.kryo[(ChunkKey, HistAcc)]
    ds.map { p: Pair =>
      val nk = p._1.copy(offsets = p._1.offsets -- dims)
      (nk, HistAcc.ofChunkWeighted(p._2, dims, bins, weightVar))
    }
      .groupByKey { kv: (ChunkKey, HistAcc) => kv._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, HistAcc), b: (ChunkKey, HistAcc)) =>
        (a._1, a._2.merge(b._2))
      }
      .map { kv: (String, (ChunkKey, HistAcc)) =>
        (kv._2._1, kv._2._2.extractWeighted(q, bins))
      }
  }

  def splitVariables(ds: Dataset[Pair]): Dataset[Pair] =
    ds.flatMap { p: Pair => ChunkOps.splitVariables(p._1, p._2) }

  /** map to rounded target key → shuffle → n-d block assembly
    * (ConsolidateChunks, rechunk.py:311-336). */
  def consolidateChunks(ds: Dataset[Pair], target: Map[String, Int]): Dataset[Pair] =
    ds.groupByKey { p: Pair => ChunkOps.roundChunkKey(p._1, target).canonical }(Encoders.STRING)
      .mapGroups { (_: String, it: Iterator[Pair]) =>
        val results = ChunkOps.consolidateChunks(it.toSeq)
        require(results.length == 1,
          s"grouped consolidation produced ${results.length} var groups")
        results.head
      }

  /** merge chunks with same offsets across variables
    * (ConsolidateVariables, rechunk.py:340-371). */
  def consolidateVariables(ds: Dataset[Pair]): Dataset[Pair] =
    ds.groupByKey { p: Pair => p._1.copy(vars = None).canonical }(Encoders.STRING)
      .mapGroups { (_: String, it: Iterator[Pair]) =>
        ChunkOps.consolidateVariables(it.toSeq)
      }

  /** The stage chain of a memory-bounded rechunk (Rechunk,
    * rechunk.py:521-605): RechunkPlanner's (read, write) stages with the
    * source→read and write→target edge stages prepended/appended
    * (rechunk.py:581-585). Each pair is one [[rechunkStage]]. */
  def rechunkStages(dimOrder: Seq[String], dimSizes: Map[String, Long],
                    sourceChunks: Map[String, Int], targetChunks: Map[String, Int],
                    itemsize: Long, minMem: Long = -1,
                    maxMem: Long = 1L << 30): Seq[(Map[String, Int], Map[String, Int])] = {
    require(sourceChunks.keySet == targetChunks.keySet,
      s"source and target chunks have different keys: $sourceChunks vs $targetChunks")
    val minM = if (minMem < 0) maxMem / 100 else minMem
    val plan = RechunkPlanner.planForDims(dimOrder, dimSizes, sourceChunks,
      targetChunks, itemsize, minM, maxMem)
    val full = ((sourceChunks, sourceChunks, plan.head._1) +: plan) :+
      ((plan.last._3, targetChunks, targetChunks))
    full.map(s => (s._1, s._3))
  }

  /** Whether a stage assembles chunks, i.e. some source chunk does not
    * split evenly into target chunks (rechunk.py:515-516). */
  def consolidates(source: Map[String, Int], target: Map[String, Int]): Boolean =
    source.keys.exists(d => source(d) % target(d) != 0)

  /** Partition count of a rechunk consolidate: one per advisory-sized
    * slice of the data but no fewer than the cores, and no more than the
    * stage's target groups (a partition without a group is a task
    * without work). `groups` is known at plan time; the two session
    * values are only read. */
  private def consolidatePartitions(spark: SparkSession, groups: Long, bytes: Long): Int = {
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val byBytes = (bytes + advisory - 1) / advisory
    math.max(1L, math.min(groups,
      math.max(spark.sparkContext.defaultParallelism.toLong, byBytes))).toInt
  }

  /** The consolidate of a rechunk stage (ConsolidateChunks,
    * rechunk.py:311-336): shuffle on the rounded target key into exactly
    * `partitions` partitions, sort on the key inside each, and assemble
    * each run of equal keys. An explicit count is one AQE does not
    * coalesce; left to it, a ~100 MB exchange packs into 2 partitions of
    * its 64 MB advisory size and half of 4 cores idle. With `mergeVars`
    * the key drops the variable names, so one group holds every
    * variable's pieces of a target chunk and ConsolidateVariables
    * (rechunk.py:340-371) runs in the same pass, not behind a shuffle of
    * its own. */
  private def rechunkConsolidate(ds: Dataset[Pair], target: Map[String, Int],
                                 partitions: Int, mergeVars: Boolean): Dataset[Pair] = {
    import org.apache.spark.sql.functions.col
    ds.map { p: Pair =>
      val k = ChunkOps.roundChunkKey(p._1, target)
      ((if (mergeVars) k.copy(vars = None) else k).canonical, p)
    }(Encoders.tuple(Encoders.STRING, pairEnc))
      .repartition(partitions, col("_1"))
      .sortWithinPartitions(col("_1"))
      .mapPartitions { rows: Iterator[(String, Pair)] =>
        val it = rows.buffered
        new Iterator[Pair] {
          def hasNext: Boolean = it.hasNext
          def next(): Pair = {
            val key = it.head._1
            val group = Seq.newBuilder[Pair]
            while (it.hasNext && it.head._1 == key) group += it.next()._2
            val results = ChunkOps.consolidateChunks(group.result())
            if (mergeVars) ChunkOps.consolidateVariables(results)
            else {
              require(results.length == 1,
                s"grouped consolidation produced ${results.length} var groups")
              results.head
            }
          }
        }
      }(pairEnc)
  }

  /** One split-then-consolidate pass with the reference's elision rules
    * (RechunkStage, rechunk.py:503-517): skip split when target divides
    * source per dim, skip consolidate when source divides target.
    * `mergeVars` merges the variables in the consolidate. */
  def rechunkStage(ds: Dataset[Pair], source: Map[String, Int],
                   target: Map[String, Int], partitions: Int,
                   mergeVars: Boolean = false): Dataset[Pair] = {
    val split =
      if (source.keys.exists(d => target(d) % source(d) != 0)) splitChunks(ds, target)
      else ds
    if (consolidates(source, target))
      rechunkConsolidate(split, target, partitions, mergeVars)
    else split
  }

  /** Run a rechunk stage chain (from [[rechunkStages]]) over chunks of
    * `bytes` in total, keyed per variable for `vars` variables, on a
    * grid of `dimSizes`. With `mergeVars` the last consolidating stage
    * merges the variables back into vars = None chunks. */
  def rechunk(ds: Dataset[Pair], stages: Seq[(Map[String, Int], Map[String, Int])],
              dimSizes: Map[String, Long], bytes: Long, vars: Int,
              mergeVars: Boolean = false): Dataset[Pair] = {
    val lastConsolidate =
      if (mergeVars) stages.lastIndexWhere { case (in, tgt) => consolidates(in, tgt) }
      else -1
    require(!mergeVars || lastConsolidate >= 0,
      "merging variables needs a consolidating stage")
    stages.zipWithIndex.foldLeft(ds) { case (out, ((in, tgt), i)) =>
      val merge = i == lastConsolidate
      val groups = ChunkGrid.totalChunks(tgt, dimSizes) * (if (merge) 1 else vars)
      rechunkStage(out, in, tgt,
        consolidatePartitions(ds.sparkSession, groups, bytes), merge)
    }
  }

  // ------------------------------------------------------------------ mean

  /** (sum, count) accumulator over parallel var maps — MeanCombineFn's
    * accumulator (combiners.py:69-105) generalized to whole chunks. */
  final case class MeanAcc(sums: ArrayChunk, counts: ArrayChunk) {
    def merge(other: MeanAcc): MeanAcc = MeanAcc(
      ArrayChunk(sums.vars.map { case (n, va) =>
        n -> VarArray(va.dims, va.arr.zipF64(other.sums.vars(n).arr)(_ + _))
      }),
      ArrayChunk(counts.vars.map { case (n, va) =>
        n -> VarArray(va.dims, va.arr.zipF64(other.counts.vars(n).arr)(_ + _))
      }))

    def extract: ArrayChunk = ArrayChunk(sums.vars.map { case (n, va) =>
      n -> VarArray(va.dims, va.arr.zipF64(counts.vars(n).arr)(_ / _))
    })
  }

  /** Per-chunk partial aggregate: reduce over `dims` inside the chunk
    * first (_SumAndCount, combiners.py:38-64). dims absent from a
    * variable are ignored. */
  def sumCountChunk(chunk: ArrayChunk, dims: Set[String], skipna: Boolean): MeanAcc = {
    val pairs = chunk.vars.map { case (n, va) =>
      val axes = va.dims.zipWithIndex.collect { case (d, i) if dims(d) => i }.toArray
      val keptDims = va.dims.filterNot(dims)
      val (s, c) = va.arr.sumCount(axes, skipna)
      (n -> VarArray(keptDims, s), n -> VarArray(keptDims, c))
    }
    MeanAcc(ArrayChunk(pairs.map(_._1)), ArrayChunk(pairs.map(_._2)))
  }

  /** Keyed mean: rekey every chunk (dropping aggregated dims from
    * offsets, Mean/combiners.py:110-147), partial-aggregate per chunk,
    * combine per key (one shuffle, map-side partials), divide. */
  def mean(ds: Dataset[Pair], dims: Set[String], skipna: Boolean = true,
           rekey: ChunkKey => ChunkKey = identity): Dataset[Pair] = {
    implicit val accEnc: Encoder[(ChunkKey, MeanAcc)] = Encoders.kryo[(ChunkKey, MeanAcc)]
    ds.map { p: Pair =>
      // rekey sees the ORIGINAL key (user rekeying is a separate upstream
      // step in the reference, era5_climatology.py:31-41); the aggregated
      // dims are stripped from the result (combiners.py:133-138).
      val rk = rekey(p._1)
      val nk = rk.copy(offsets = rk.offsets -- dims)
      (nk, sumCountChunk(p._2, dims, skipna))
    }
      .groupByKey { kv: (ChunkKey, MeanAcc) => kv._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, MeanAcc), b: (ChunkKey, MeanAcc)) =>
        (a._1, a._2.merge(b._2))
      }
      .map { kv: (String, (ChunkKey, MeanAcc)) => (kv._2._1, kv._2._2.extract) }
  }

  /** Keyed WEIGHTED mean over dims (xarray `ds.weighted(w).mean()`,
    * e.g. cos-latitude area weighting): identical one-shuffle shape to
    * [[mean]] with per-chunk partials (Σ w·v, Σ w) — [[MeanAcc]] merges
    * and extracts both the same way. An element's weight is the product
    * of its per-dim weights; each chunk slices the (tiny, 1-d) full-dim
    * weight arrays by its own offsets, so no weight data shuffles. */
  def weightedMean(ds: Dataset[Pair], dims: Set[String],
                   weights: Map[String, Array[Double]],
                   skipna: Boolean = true,
                   rekey: ChunkKey => ChunkKey = identity): Dataset[Pair] = {
    require(weights.keySet.subsetOf(dims),
      s"weight dims ${weights.keySet} not all among reduced dims $dims")
    implicit val accEnc: Encoder[(ChunkKey, MeanAcc)] = Encoders.kryo[(ChunkKey, MeanAcc)]
    val w = weights
    ds.map { p: Pair =>
      val rk = rekey(p._1)
      val nk = rk.copy(offsets = rk.offsets -- dims)
      val pairs = p._2.vars.map { case (n, va) =>
        val axes = va.dims.zipWithIndex.collect { case (d, i) if dims(d) => i }.toArray
        val kept = va.dims.filterNot(dims)
        val aw: Array[Array[Double]] = axes.map { ax =>
          val d = va.dims(ax)
          w.get(d) match {
            case Some(full) =>
              val off = p._1.offsets.getOrElse(d, 0L).toInt
              java.util.Arrays.copyOfRange(full, off, off + va.arr.shape(ax))
            case None => null
          }
        }
        val (s, ws) = va.arr.weightedSumCount(axes, aw, skipna)
        (n -> VarArray(kept, s), n -> VarArray(kept, ws))
      }
      (nk, MeanAcc(ArrayChunk(pairs.map(_._1)), ArrayChunk(pairs.map(_._2))))
    }
      .groupByKey { kv: (ChunkKey, MeanAcc) => kv._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, MeanAcc), b: (ChunkKey, MeanAcc)) =>
        (a._1, a._2.merge(b._2))
      }
      .map { kv: (String, (ChunkKey, MeanAcc)) => (kv._2._1, kv._2._2.extract) }
  }

  // ----------------------------------------------------- other reductions

  /** Accumulator for the general reductions — the combiners the
    * reference lists as TODO (combiners.py:29: sum, std, var, min, max).
    * `parts` is op-specific: sum → (sums); min/max → (extremes);
    * var/std → (sums, sumsqs, counts). Merging is pointwise per part.
    *
    * `passthrough` carries the variables that span NONE of the reduced
    * dims: the scan replicates such a variable into every chunk along
    * the reduced dims (ChunkGrid.keyForIndex enumerates all dims), so
    * the replicas all land in the same output group — merging keeps one
    * replica instead of combining them (summing N identical copies
    * would yield N·v), matching xarray, where a reduction leaves
    * variables lacking the dim unchanged. */
  final case class ReduceAcc(kind: String, skipna: Boolean,
                             parts: Seq[ArrayChunk],
                             passthrough: ArrayChunk) {
    // "var"/"std" optionally carry delta-degrees-of-freedom as
    // "var:<ddof>" (xarray's ddof param; plain kind = ddof 0)
    private def baseKind = ReduceAcc.baseOf(kind)
    private def ddof: Int = kind.indexOf(':') match {
      case -1 => 0
      case i => kind.substring(i + 1).toInt
    }
    private def zipParts(a: ArrayChunk, b: ArrayChunk,
                         f: (Double, Double) => Double): ArrayChunk =
      ArrayChunk(a.vars.map { case (n, va) =>
        n -> VarArray(va.dims, va.arr.zipF64(b.vars(n).arr)(f))
      })

    def merge(other: ReduceAcc): ReduceAcc = {
      val merged = baseKind match {
        case "sum" => Seq(zipParts(parts(0), other.parts(0), _ + _))
        case "count" => Seq(zipParts(parts(0), other.parts(0), _ + _))
        case "prod" =>
          val f: (Double, Double) => Double =
            if (skipna) (a, b) => a * b
            else (a, b) => if (a.isNaN || b.isNaN) Double.NaN else a * b
          Seq(zipParts(parts(0), other.parts(0), f))
        case "min" | "max" =>
          val f: (Double, Double) => Double = { (a, b) =>
            // Under skipna, NaN in a partial means "no data in this
            // cell": the other side wins. Without skipna, NaN means
            // "poisoned" and must propagate instead.
            if (a.isNaN) b else if (b.isNaN) a
            else if (baseKind == "min") math.min(a, b) else math.max(a, b)
          }
          val g: (Double, Double) => Double =
            if (skipna) f
            else (a, b) => if (a.isNaN || b.isNaN) Double.NaN else f(a, b)
          Seq(zipParts(parts(0), other.parts(0), g))
        case "var" | "std" => Seq(
          zipParts(parts(0), other.parts(0), _ + _),
          zipParts(parts(1), other.parts(1), _ + _),
          zipParts(parts(2), other.parts(2), _ + _))
      }
      copy(parts = merged) // passthrough replicas: keep this side's
    }

    def extract: ArrayChunk = {
      val computed: Map[String, VarArray] = baseKind match {
        case "sum" | "min" | "max" | "count" | "prod" => parts(0).vars
        case "var" | "std" =>
          parts(0).vars.map { case (n, sva) =>
            val sq = parts(1).vars(n).arr
            val cnt = parts(2).vars(n).arr
            val sums = sva.arr
            val res = NdArray.zeros(DType.F64, sums.shape)
            var i = 0L
            while (i < res.size) {
              val s = sums.getDouble(i)
              val q = sq.getDouble(i)
              val c = cnt.getDouble(i)
              // variance in this exact expression order on both
              // engines (population by default, divisor c - ddof when
              // requested); clamped at 0 so catastrophic cancellation
              // on near-constant float data cannot yield a negative
              // variance or a NaN std; cells with c <= ddof are NaN
              val v = if (c <= ddof) Double.NaN
                else math.max((q - s * s / c) / (c - ddof), 0.0)
              res.setDouble(i, if (baseKind == "std") math.sqrt(v) else v)
              i += 1
            }
            n -> VarArray(sva.dims, res)
          }
      }
      ArrayChunk(computed ++ passthrough.vars)
    }
  }

  object ReduceAcc {
    /** Kind without its optional ":<ddof>" suffix. */
    def baseOf(kind: String): String = kind.takeWhile(_ != ':')

    /** Per-chunk partial for `kind` ("sum" | "min" | "max" | "var" |
      * "std", the latter two optionally "var:<ddof>"), reducing over
      * `dims` inside the chunk first. Variables
      * spanning none of `dims` go to `passthrough` untouched. */
    def ofChunk(chunk: ArrayChunk, dims: Set[String], kind: String,
                skipna: Boolean): ReduceAcc = {
      val (touched, untouched) =
        chunk.vars.partition(_._2.dims.exists(dims))
      def per(f: (NdArray, Array[Int]) => Seq[NdArray]): Seq[ArrayChunk] = {
        val partsByVar = touched.map { case (n, va) =>
          val axes = va.dims.zipWithIndex.collect { case (d, i) if dims(d) => i }.toArray
          val keptDims = va.dims.filterNot(dims)
          n -> (keptDims, f(va.arr, axes))
        }
        val nParts =
          if (partsByVar.isEmpty)
            (if (ReduceAcc.baseOf(kind) == "var" ||
              ReduceAcc.baseOf(kind) == "std") 3 else 1)
          else partsByVar.head._2._2.length
        (0 until nParts).map { i =>
          ArrayChunk(partsByVar.map { case (n, (kd, ps)) =>
            n -> VarArray(kd, ps(i))
          })
        }
      }
      val parts = ReduceAcc.baseOf(kind) match {
        case "sum" => per((a, ax) => Seq(a.sumCount(ax, skipna)._1))
        case "count" => per((a, ax) => Seq(a.sumCount(ax, skipna = true)._2))
        case "prod" => per((a, ax) => Seq(a.prodAlong(ax, skipna)))
        case "min" => per((a, ax) => Seq(a.extreme(ax, skipna, isMin = true)))
        case "max" => per((a, ax) => Seq(a.extreme(ax, skipna, isMin = false)))
        case "var" | "std" => per { (a, ax) =>
          val (s, q, c) = a.sumSqCount(ax, skipna)
          Seq(s, q, c)
        }
        case other => throw new IllegalArgumentException(
          s"unknown reduction $other (sum/min/max/count/prod/var/std)")
      }
      ReduceAcc(kind, skipna, parts, ArrayChunk(untouched))
    }
  }

  /** Keyed general reduction over dims — same one-shuffle shape as
    * [[mean]] (rekey → per-chunk partial → reduceGroups with map-side
    * partials → extract), for the combiners the reference lacks. */
  def reduceDims(ds: Dataset[Pair], dims: Set[String], kind: String,
                 skipna: Boolean = true,
                 rekey: ChunkKey => ChunkKey = identity): Dataset[Pair] = {
    implicit val accEnc: Encoder[(ChunkKey, ReduceAcc)] =
      Encoders.kryo[(ChunkKey, ReduceAcc)]
    ds.map { p: Pair =>
      val rk = rekey(p._1)
      val nk = rk.copy(offsets = rk.offsets -- dims)
      (nk, ReduceAcc.ofChunk(p._2, dims, kind, skipna))
    }
      .groupByKey { kv: (ChunkKey, ReduceAcc) => kv._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, ReduceAcc), b: (ChunkKey, ReduceAcc)) =>
        (a._1, a._2.merge(b._2))
      }
      .map { kv: (String, (ChunkKey, ReduceAcc)) => (kv._2._1, kv._2._2.extract) }
  }

  /** Joint-moment accumulator for a distributed covariance/correlation
    * between two variables (xarray `xr.cov`/`xr.corr`): per-chunk
    * partials carry [n, Σx, Σy, Σxy, Σx², Σy²] per kept cell, merging
    * is pointwise addition, and `extract` applies the closed form —
    * data never reshuffles. Exact for integer-valued inputs (every
    * moment stays within 2^53), and the extract expression tree is
    * spelled exactly once so an oracle can mirror it bit-for-bit. */
  final case class PairAcc(moments: Seq[VarArray]) {
    def merge(other: PairAcc): PairAcc =
      PairAcc(moments.zip(other.moments).map { case (a, b) =>
        VarArray(a.dims, a.arr.zipF64(b.arr)(_ + _))
      })

    /** `kind` = "corr" | "cov:<ddof>"; the single output variable is
      * named `out`. corr: (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx·Σx) ·
      * √(n·Σy² − Σy·Σy)); cov: (Σxy − Σx·Σy/n) / (n − ddof). NaN for
      * empty cells, zero-variance corr cells, and n ≤ ddof. */
    def extract(kind: String, out: String): ArrayChunk = {
      val Seq(nA, sxA, syA, sxyA, sxxA, syyA) = moments
      val res = NdArray.zeros(DType.F64, nA.arr.shape)
      val ddof = kind.indexOf(':') match {
        case -1 => 0
        case i => kind.substring(i + 1).toInt
      }
      val isCorr = kind == "corr"
      var i = 0L
      while (i < res.size) {
        val n = nA.arr.getDouble(i)
        val sx = sxA.arr.getDouble(i)
        val sy = syA.arr.getDouble(i)
        val sxy = sxyA.arr.getDouble(i)
        val v =
          if (isCorr) {
            val sxx = sxxA.arr.getDouble(i)
            val syy = syyA.arr.getDouble(i)
            val den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
            if (n < 2 || den == 0.0) Double.NaN
            else (n * sxy - sx * sy) / den
          } else {
            if (n <= ddof) Double.NaN
            else (sxy - sx * sy / n) / (n - ddof)
          }
        res.setDouble(i, v)
        i += 1
      }
      ArrayChunk(Map(out -> VarArray(nA.dims, res)))
    }
  }

  /** Distributed cov/corr of two variables over `dims` — the
    * [[reduceDims]] one-shuffle shape with a six-moment partial. */
  def pairMomentsReduce(ds: Dataset[Pair], x: String, y: String,
                        dims: Set[String], kind: String, out: String,
                        skipna: Boolean = true): Dataset[Pair] = {
    implicit val accEnc: Encoder[(ChunkKey, PairAcc)] =
      Encoders.kryo[(ChunkKey, PairAcc)]
    ds.map { p: Pair =>
      val nk = p._1.copy(offsets = p._1.offsets -- dims)
      val xa = p._2.vars(x)
      val ya = p._2.vars(y)
      val axes = xa.dims.zipWithIndex.collect { case (d, i) if dims(d) => i }.toArray
      val kept = xa.dims.filterNot(dims)
      val ms = xa.arr.pairMoments(ya.arr, axes, skipna)
      (nk, PairAcc(ms.toSeq.map(VarArray(kept, _))))
    }
      .groupByKey { kv: (ChunkKey, PairAcc) => kv._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, PairAcc), b: (ChunkKey, PairAcc)) =>
        (a._1, a._2.merge(b._2))
      }
      .map { kv: (String, (ChunkKey, PairAcc)) =>
        (kv._2._1, kv._2._2.extract(kind, out))
      }
  }

  /** Weighted-moment accumulator for distributed weighted sum/var/std
    * (xarray `ds.weighted(w).sum()/.var()/.std()`): per-chunk partials
    * carry (Σw·v, Σw·v², Σw) per variable, pointwise-add merge.
    * `passthrough` as in [[ReduceAcc]]. */
  final case class WeightedAcc(sums: ArrayChunk, sqs: ArrayChunk,
                               wsums: ArrayChunk, passthrough: ArrayChunk) {
    def merge(other: WeightedAcc): WeightedAcc = {
      def zip(a: ArrayChunk, b: ArrayChunk): ArrayChunk =
        ArrayChunk(a.vars.map { case (n, va) =>
          n -> VarArray(va.dims, va.arr.zipF64(b.vars(n).arr)(_ + _))
        })
      WeightedAcc(zip(sums, other.sums), zip(sqs, other.sqs),
        zip(wsums, other.wsums), passthrough)
    }

    /** `kind` = "sum" (Σw·v) | "var" | "std" (weighted population
      * moments: Σw·v²/Σw − (Σw·v/Σw)², clamped at 0; NaN when Σw = 0). */
    def extract(kind: String): ArrayChunk =
      ArrayChunk((kind match {
        case "sum" => sums.vars
        case "var" | "std" => sums.vars.map { case (n, sva) =>
          val sq = sqs.vars(n).arr
          val sw = wsums.vars(n).arr
          val res = NdArray.zeros(DType.F64, sva.arr.shape)
          var i = 0L
          while (i < res.size) {
            val w = sw.getDouble(i)
            val v = if (w == 0.0) Double.NaN
              else {
                val mu = sva.arr.getDouble(i) / w
                math.max(sq.getDouble(i) / w - mu * mu, 0.0)
              }
            res.setDouble(i, if (kind == "std") math.sqrt(v) else v)
            i += 1
          }
          n -> VarArray(sva.dims, res)
        }
      }) ++ passthrough.vars)
  }

  /** Keyed weighted reduction over dims — [[weightedMean]]'s shape with
    * the second moment carried too, for sum/var/std. */
  def weightedReduce(ds: Dataset[Pair], dims: Set[String],
                     weights: Map[String, Array[Double]], kind: String,
                     skipna: Boolean = true): Dataset[Pair] = {
    require(weights.keySet.subsetOf(dims),
      s"weight dims ${weights.keySet} not all among reduced dims $dims")
    implicit val accEnc: Encoder[(ChunkKey, WeightedAcc)] =
      Encoders.kryo[(ChunkKey, WeightedAcc)]
    val w = weights
    ds.map { p: Pair =>
      val nk = p._1.copy(offsets = p._1.offsets -- dims)
      val (touched, untouched) = p._2.vars.partition(_._2.dims.exists(dims))
      val parts = touched.map { case (n, va) =>
        val axes = va.dims.zipWithIndex.collect { case (d, i) if dims(d) => i }.toArray
        val kept = va.dims.filterNot(dims)
        val aw: Array[Array[Double]] = axes.map { ax =>
          val d = va.dims(ax)
          w.get(d) match {
            case Some(full) =>
              val off = p._1.offsets.getOrElse(d, 0L).toInt
              java.util.Arrays.copyOfRange(full, off, off + va.arr.shape(ax))
            case None => null
          }
        }
        val (s, q, ws) = va.arr.weightedMoments(axes, aw, skipna)
        (n -> VarArray(kept, s), n -> VarArray(kept, q), n -> VarArray(kept, ws))
      }
      (nk, WeightedAcc(ArrayChunk(parts.map(_._1).toMap),
        ArrayChunk(parts.map(_._2).toMap),
        ArrayChunk(parts.map(_._3).toMap), ArrayChunk(untouched)))
    }
      .groupByKey { kv: (ChunkKey, WeightedAcc) => kv._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, WeightedAcc), b: (ChunkKey, WeightedAcc)) =>
        (a._1, a._2.merge(b._2))
      }
      .map { kv: (String, (ChunkKey, WeightedAcc)) => (kv._2._1, kv._2._2.extract(kind)) }
  }

  /** (best value, its global index) accumulator for a distributed
    * argmin/argmax along one dim. Per-chunk partials carry the chunk's
    * best value AND its dim-global index, so the merge never needs the
    * data again. Ties take the lowest index; a NaN partial means "no
    * data in this cell" under skipna (the other side wins) and
    * "poisoned" without it. `passthrough` as in [[ReduceAcc]]. */
  final case class ArgAcc(isMin: Boolean, skipna: Boolean,
                          vals: ArrayChunk, idxs: ArrayChunk,
                          passthrough: ArrayChunk) {
    def merge(other: ArgAcc): ArgAcc = {
      val zipped = vals.vars.map { case (n, vva) =>
        val av = vva.arr
        val ai = idxs.vars(n).arr
        val bv = other.vals.vars(n).arr
        val bi = other.idxs.vars(n).arr
        val ov = NdArray.zeros(DType.F64, av.shape)
        val oi = NdArray.zeros(DType.F64, av.shape)
        var i = 0L
        while (i < av.size) {
          val a = av.getDouble(i)
          val b = bv.getDouble(i)
          val (v, ix) =
            if (a.isNaN && b.isNaN) (Double.NaN, -1.0)
            else if (a.isNaN)
              if (skipna) (b, bi.getDouble(i)) else (Double.NaN, -1.0)
            else if (b.isNaN)
              if (skipna) (a, ai.getDouble(i)) else (Double.NaN, -1.0)
            else if (a == b) (a, math.min(ai.getDouble(i), bi.getDouble(i)))
            else if (if (isMin) a < b else a > b) (a, ai.getDouble(i))
            else (b, bi.getDouble(i))
          ov.setDouble(i, v)
          oi.setDouble(i, ix)
          i += 1
        }
        n -> (VarArray(vva.dims, ov), VarArray(vva.dims, oi))
      }
      copy(vals = ArrayChunk(zipped.map { case (n, p) => n -> p._1 }),
           idxs = ArrayChunk(zipped.map { case (n, p) => n -> p._2 }))
    }

    /** The argmin/argmax result: I64 indices (-1 where no data). */
    def extract: ArrayChunk = ArrayChunk(idxs.vars.map { case (n, va) =>
      val out = NdArray.zeros(DType.I64, va.arr.shape)
      var i = 0L
      while (i < out.size) {
        out.setLong(i, math.round(va.arr.getDouble(i)))
        i += 1
      }
      n -> VarArray(va.dims, out)
    } ++ passthrough.vars)
  }

  object ArgAcc {
    /** Per-chunk partial: argExtreme along the dim, indices globalized
      * by the chunk's offset along it. */
    def ofChunk(chunk: ArrayChunk, dim: String, isMin: Boolean,
                skipna: Boolean, dimOffset: Long): ArgAcc = {
      val (touched, untouched) = chunk.vars.partition(_._2.dims.contains(dim))
      val parts = touched.map { case (n, va) =>
        val ax = va.dims.indexOf(dim)
        val kept = va.dims.filterNot(_ == dim)
        val (v, localIdx) = va.arr.argExtreme(ax, isMin, skipna)
        val globalIdx = localIdx.mapF64(x => if (x < 0) x else x + dimOffset)
        n -> (VarArray(kept, v), VarArray(kept, globalIdx))
      }
      ArgAcc(isMin, skipna,
        ArrayChunk(parts.map { case (n, p) => n -> p._1 }),
        ArrayChunk(parts.map { case (n, p) => n -> p._2 }),
        ArrayChunk(untouched))
    }
  }

  /** Distributed argmin/argmax along one dim — same one-shuffle shape
    * as [[reduceDims]]; the shuffle carries (value, index) partials,
    * never data. */
  def argReduce(ds: Dataset[Pair], dim: String, isMin: Boolean,
                skipna: Boolean = true): Dataset[Pair] = {
    implicit val accEnc: Encoder[(ChunkKey, ArgAcc)] =
      Encoders.kryo[(ChunkKey, ArgAcc)]
    ds.map { p: Pair =>
      val off = p._1.offsets.getOrElse(dim, 0L)
      (p._1.copy(offsets = p._1.offsets - dim),
        ArgAcc.ofChunk(p._2, dim, isMin, skipna, off))
    }
      .groupByKey { kv: (ChunkKey, ArgAcc) => kv._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, ArgAcc), b: (ChunkKey, ArgAcc)) =>
        (a._1, a._2.merge(b._2))
      }
      .map { kv: (String, (ChunkKey, ArgAcc)) => (kv._2._1, kv._2._2.extract) }
  }

  /** Stacked degree-1 OLS partials for a distributed per-cell linear
    * trend along one dim (xarray `polyfit(deg=1)`'s slope — the
    * secular-trend map a climate pipeline ends with): each chunk
    * contributes [n, Σt, Σt², Σv, Σt·v] per cell against the GLOBAL
    * dim index, partials add elementwise across chunks, and the merge
    * never needs the data again. `passthrough` as in [[ReduceAcc]]. */
  final case class TrendAcc(parts: ArrayChunk, passthrough: ArrayChunk,
                            weighted: Boolean = false) {
    def merge(other: TrendAcc): TrendAcc =
      copy(parts = ArrayChunk(parts.vars.map { case (n, va) =>
        n -> VarArray(va.dims, va.arr.zipF64(other.parts.vars(n).arr)(_ + _))
      }))

    /** Slope per cell: (nΣtv − ΣtΣv) / (nΣt² − (Σt)²) — weighted, the
      * same tree over Σw-moments. NaN when fewer than two valid points
      * (weighted: fewer than two with NONZERO weight — the rank guard;
      * a singular weighted system's FP denominator is rounding noise,
      * not an exact zero) or a degenerate denominator. */
    def extract: ArrayChunk = ArrayChunk(parts.vars.map { case (n, va) =>
      val a = va.arr
      val laneSize = a.size / (if (weighted) 6 else 5)
      val out = NdArray.zeros(DType.F64, a.shape.drop(1))
      var i = 0L
      while (i < laneSize) {
        val cnt = a.getDouble(i)
        val st = a.getDouble(laneSize + i)
        val st2 = a.getDouble(2 * laneSize + i)
        val sv = a.getDouble(3 * laneSize + i)
        val stv = a.getDouble(4 * laneSize + i)
        // weighted: plane 5's nonzero-weight valid count is the rank
        // of the system — the reliable underdetermined rejection (a
        // singular weighted system's FP denominator is rounding
        // noise, not an exact zero)
        val points = if (weighted) a.getDouble(5 * laneSize + i) else cnt
        val denom = cnt * st2 - st * st
        out.setDouble(i,
          if (points < 2 || denom == 0) Double.NaN
          else (cnt * stv - st * sv) / denom)
        i += 1
      }
      n -> VarArray(va.dims.drop(1), out)
    } ++ passthrough.vars)
  }

  object TrendAcc {
    def ofChunk(chunk: ArrayChunk, dim: String, skipna: Boolean,
                dimOffset: Long): TrendAcc = {
      val (touched, untouched) = chunk.vars.partition(_._2.dims.contains(dim))
      TrendAcc(
        ArrayChunk(touched.map { case (n, va) =>
          val ax = va.dims.indexOf(dim)
          n -> VarArray("__p" +: va.dims.filterNot(_ == dim),
            va.arr.olsPartialsAlong(ax, dimOffset, skipna))
        }),
        ArrayChunk(untouched))
    }

    /** [[ofChunk]] with a per-position weight vector over `dim`
      * (global indexing — the chunk's offset selects its slice). */
    def ofChunkWeighted(chunk: ArrayChunk, dim: String, skipna: Boolean,
                        dimOffset: Long,
                        weights: Array[Double]): TrendAcc = {
      val (touched, untouched) = chunk.vars.partition(_._2.dims.contains(dim))
      TrendAcc(
        ArrayChunk(touched.map { case (n, va) =>
          val ax = va.dims.indexOf(dim)
          n -> VarArray("__p" +: va.dims.filterNot(_ == dim),
            va.arr.weightedOlsPartialsAlong(ax, dimOffset, weights, skipna))
        }),
        ArrayChunk(untouched), weighted = true)
    }
  }

  /** Polynomial-fit accumulator (xarray polyfit): 3·deg+2 power/moment
    * planes per cell; extract solves the normal equations. deg 1 and 2
    * use SPELLED-OUT closed forms (Cramer expansions) whose expression
    * trees a SQL oracle mirrors bit-for-bit when the sums are exact
    * integers; deg ≥ 3 runs Gaussian elimination with partial
    * pivoting. Coefficients come out highest power first (plane k =
    * coefficient of t^(deg−k), xarray's degree order). */
  final case class PolyAcc(deg: Int, parts: ArrayChunk,
                           passthrough: ArrayChunk,
                           weighted: Boolean = false) {
    def merge(other: PolyAcc): PolyAcc =
      copy(parts = ArrayChunk(parts.vars.map { case (n, va) =>
        n -> VarArray(va.dims, va.arr.zipF64(other.parts.vars(n).arr)(_ + _))
      }))

    def extract: ArrayChunk = ArrayChunk(parts.vars.map { case (n, va) =>
      val a = va.arr
      val planes = 3 * deg + 2 + (if (weighted) 1 else 0)
      val laneSize = a.size / planes
      val laneShape = a.shape.drop(1)
      val out = NdArray.zeros(DType.F64, (deg + 1) +: laneShape)
      def s(k: Int, i: Long) = a.getDouble(k * laneSize + i)
      def v(k: Int, i: Long) = a.getDouble((2 * deg + 1 + k) * laneSize + i)
      var i = 0L
      while (i < laneSize) {
        val coefs: Array[Double] =
          // fewer than deg+1 valid points can't determine the fit; the
          // weighted form reads its dedicated nonzero-weight count
          // plane — the system's rank (s0 is a weight MASS there, and
          // an underdetermined system's FP determinant is rounding
          // noise, not an exact zero)
          if ((if (weighted) a.getDouble((3 * deg + 2) * laneSize + i)
               else s(0, i)) < deg + 1) Array.fill(deg + 1)(Double.NaN)
          else if (deg == 1) {
            val det = s(0, i) * s(2, i) - s(1, i) * s(1, i)
            if (det == 0) Array(Double.NaN, Double.NaN)
            else Array( // highest first: (c1, c0)
              (s(0, i) * v(1, i) - s(1, i) * v(0, i)) / det,
              (v(0, i) * s(2, i) - s(1, i) * v(1, i)) / det)
          } else if (deg == 2) {
            // first-row cofactor expansions of the 3×3 normal system —
            // KEEP this exact tree in sync with the x73 oracle SQL
            val (s0, s1, s2, s3, s4) =
              (s(0, i), s(1, i), s(2, i), s(3, i), s(4, i))
            val (v0, v1, v2) = (v(0, i), v(1, i), v(2, i))
            val det = s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2) +
              s2 * (s1 * s3 - s2 * s2)
            if (det == 0) Array(Double.NaN, Double.NaN, Double.NaN)
            else Array( // highest first: (c2, c1, c0)
              (s0 * (s2 * v2 - s3 * v1) - s1 * (s1 * v2 - s2 * v1) +
                v0 * (s1 * s3 - s2 * s2)) / det,
              (s0 * (v1 * s4 - v2 * s3) - v0 * (s1 * s4 - s3 * s2) +
                s2 * (s1 * v2 - v1 * s2)) / det,
              (v0 * (s2 * s4 - s3 * s3) - s1 * (v1 * s4 - s3 * v2) +
                s2 * (v1 * s3 - s2 * v2)) / det)
          } else {
            // Gaussian elimination with partial pivoting on the
            // (deg+1)² normal matrix A[r][c] = S_{r+c}
            val m = deg + 1
            val mat = Array.tabulate(m, m + 1)((r, c) =>
              if (c == m) v(r, i) else s(r + c, i))
            var singular = false
            var col = 0
            while (col < m && !singular) {
              var piv = col
              var r = col + 1
              while (r < m) {
                if (math.abs(mat(r)(col)) > math.abs(mat(piv)(col))) piv = r
                r += 1
              }
              if (mat(piv)(col) == 0 || mat(piv)(col).isNaN) singular = true
              else {
                val tmp = mat(col); mat(col) = mat(piv); mat(piv) = tmp
                r = col + 1
                while (r < m) {
                  val f = mat(r)(col) / mat(col)(col)
                  var c = col
                  while (c <= m) { mat(r)(c) -= f * mat(col)(c); c += 1 }
                  r += 1
                }
              }
              col += 1
            }
            if (singular) Array.fill(m)(Double.NaN)
            else {
              val x = new Array[Double](m)
              var r = m - 1
              while (r >= 0) {
                var acc = mat(r)(m)
                var c = r + 1
                while (c < m) { acc -= mat(r)(c) * x(c); c += 1 }
                x(r) = acc / mat(r)(r)
                r -= 1
              }
              x.reverse // ascending-power solve → highest first
            }
          }
        var k = 0
        while (k <= deg) {
          out.setDouble(k * laneSize + i, coefs(k))
          k += 1
        }
        i += 1
      }
      n -> VarArray("degree" +: va.dims.drop(1), out)
    } ++ passthrough.vars)
  }

  object PolyAcc {
    def ofChunk(chunk: ArrayChunk, dim: String, deg: Int, skipna: Boolean,
                dimOffset: Long,
                weights: Array[Double] = null): PolyAcc = {
      val (touched, untouched) = chunk.vars.partition(_._2.dims.contains(dim))
      PolyAcc(deg,
        ArrayChunk(touched.map { case (n, va) =>
          val ax = va.dims.indexOf(dim)
          n -> VarArray("__p" +: va.dims.filterNot(_ == dim),
            va.arr.polyPartialsAlong(ax, dimOffset, deg, skipna, weights))
        }),
        ArrayChunk(untouched), weighted = weights != null)
    }
  }

  /** Distributed per-cell polynomial fit along one dim — the
    * [[trendReduce]] shape generalized: one keyed shuffle of 3·deg+2
    * power/moment planes, never data; the output grows a leading
    * `degree` chunk axis (offset 0, single chunk). */
  def polyReduce(ds: Dataset[Pair], dim: String, deg: Int,
                 skipna: Boolean = true,
                 weights: Option[org.apache.spark.broadcast.Broadcast[
                   Array[Double]]] = None): Dataset[Pair] = {
    implicit val accEnc: Encoder[(ChunkKey, PolyAcc)] =
      Encoders.kryo[(ChunkKey, PolyAcc)]
    ds.map { p: Pair =>
      val off = p._1.offsets.getOrElse(dim, 0L)
      (p._1.copy(offsets = p._1.offsets - dim),
        PolyAcc.ofChunk(p._2, dim, deg, skipna, off,
          weights.map(_.value).orNull))
    }
      .groupByKey { kv: (ChunkKey, PolyAcc) => kv._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, PolyAcc), b: (ChunkKey, PolyAcc)) =>
        (a._1, a._2.merge(b._2))
      }
      .map { kv: (String, (ChunkKey, PolyAcc)) =>
        (kv._2._1.copy(offsets = kv._2._1.offsets + ("degree" -> 0L)),
          kv._2._2.extract)
      }
  }

  /** Distributed per-cell linear trend along one dim — same one-shuffle
    * shape as [[argReduce]]; the shuffle carries 5-plane OLS partials,
    * never data. */
  def trendReduce(ds: Dataset[Pair], dim: String,
                  skipna: Boolean = true,
                  weights: Option[org.apache.spark.broadcast.Broadcast[
                    Array[Double]]] = None): Dataset[Pair] = {
    implicit val accEnc: Encoder[(ChunkKey, TrendAcc)] =
      Encoders.kryo[(ChunkKey, TrendAcc)]
    ds.map { p: Pair =>
      val off = p._1.offsets.getOrElse(dim, 0L)
      (p._1.copy(offsets = p._1.offsets - dim),
        weights match {
          case Some(w) =>
            TrendAcc.ofChunkWeighted(p._2, dim, skipna, off, w.value)
          case None => TrendAcc.ofChunk(p._2, dim, skipna, off)
        })
    }
      .groupByKey { kv: (ChunkKey, TrendAcc) => kv._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, TrendAcc), b: (ChunkKey, TrendAcc)) =>
        (a._1, a._2.merge(b._2))
      }
      .map { kv: (String, (ChunkKey, TrendAcc)) => (kv._2._1, kv._2._2.extract) }
  }

  /** Mean with an explicitly planned N-stage combiner tree
    * (MultiStageMean, combiners.py:295-394): chunk → flat index →
    * per-stage fanout bins (planned by the reference's cost model,
    * FanoutPlanner), then one keyed reduce per stage, stripping the
    * leading bin between stages.
    *
    * Spark's single-shuffle mean (above) already gets map-side partial
    * aggregation from reduceGroups; this explicit tree is for EXTREME
    * reduction ratios (say 10^6 chunks collapsing to one key at 100 TB)
    * where one round would funnel every partial through a single
    * reducer — the staged tree bounds any one task's merge count by the
    * stage fanout. */
  def meanMultiStage(ds: Dataset[Pair], dims: Set[String], dimOrder: Seq[String],
                     chunks: Map[String, Int], sizes: Map[String, Long],
                     itemsize: Long, skipna: Boolean = true,
                     binsPerStage: Option[Vector[Int]] = None): Dataset[Pair] = {
    val dimSeq = dimOrder.filter(dims)
    val bins = binsPerStage.getOrElse(
      FanoutPlanner.optimalFanoutBins(dimSeq, chunks, sizes, itemsize))
    if (bins.isEmpty) {
      // one chunk per output key — no combiner needed (combiners.py:375-379)
      return ds.map { p: Pair =>
        (p._1.copy(offsets = p._1.offsets -- dims),
          sumCountChunk(p._2, dims, skipna).extract)
      }
    }
    implicit val stagedEnc: Encoder[(Vector[Long], ChunkKey, MeanAcc)] =
      Encoders.kryo[(Vector[Long], ChunkKey, MeanAcc)]
    // the final bin is unneeded: the last stage groups on the key alone
    // (combiners.py:356-359 strips it the same way)
    var cur = ds.map { p: Pair =>
      val idx = FanoutPlanner.chunkIndex(p._1, dimSeq, chunks, sizes)
      val binIds = FanoutPlanner.indexToFanoutBins(idx, bins.dropRight(1))
      (binIds, p._1.copy(offsets = p._1.offsets -- dims),
        sumCountChunk(p._2, dims, skipna))
    }
    bins.indices.foreach { i =>
      cur = cur
        .groupByKey { t: (Vector[Long], ChunkKey, MeanAcc) =>
          (t._1.mkString(","), t._2.canonical)
        }(Encoders.tuple(Encoders.STRING, Encoders.STRING))
        .reduceGroups { (a: (Vector[Long], ChunkKey, MeanAcc),
                         b: (Vector[Long], ChunkKey, MeanAcc)) =>
          (a._1, a._2, a._3.merge(b._3))
        }
        .map { kv: ((String, String), (Vector[Long], ChunkKey, MeanAcc)) => kv._2 }
      if (i + 1 < bins.length)
        cur = cur.map { t: (Vector[Long], ChunkKey, MeanAcc) =>
          (t._1.tail, t._2, t._3)
        }
    }
    cur.map { t: (Vector[Long], ChunkKey, MeanAcc) => (t._2, t._3.extract) }
  }
}
