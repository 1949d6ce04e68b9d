package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

import graft.core.{ArrayChunk, ChunkGrid, ChunkKey, ChunkSpec, Template, VarArray, VarSpec}
import graft.ndarray.{DType, NdArray}
import graft.operators.{ChunkOps, ChunkTransforms}
import graft.sources.Zarr

/** Where an untransformed scan reads its chunks from. */
sealed trait ScanSource extends Serializable
/** A Zarr store on disk / object store. `metas` is resolved ONCE at
  * open time and rides to executors with the scan, so chunk reads
  * never re-fetch array metadata (2 metadata GETs per chunk per
  * variable would dominate an object-store scan at scale). */
final case class ZarrSource(path: String,
                            metas: Map[String, Zarr.ArrayMeta]) extends ScanSource
/** An in-memory dataset (tests / from_xarray analogue, dataset.py:624-660). */
final case class LocalSource(vars: Map[String, (Seq[String], NdArray)])
    extends ScanSource

/** An untransformed scan with its pushed-down rewrites (SURVEY §4):
  * `offset(d)` slices the virtual dataset (head/tail pushdown,
  * dataset.py:366-397); variable selection is already applied to the
  * template. Emitted keys are 0-based over the sliced region. */
final case class ScanSpec(source: ScanSource, offset: Map[String, Long])

/** High-level chained API over a distributed chunked dataset — the
  * Spark-native `xarray_beam.Dataset` (reference dataset.py:455-1141).
  *
  * Carries (template, chunks, splitVars) plus either an untransformed
  * [[ScanSpec]] (kept symbolic so head/tail/select/rechunk can rewrite
  * the scan instead of shuffling — the reference's construction-time
  * pushdowns, dataset.py:366-397 and 1010-1019) or a concrete Spark
  * `Dataset[(ChunkKey, ArrayChunk)]` lineage. Materialization is lazy:
  * `chunks`-typed Spark lineage is built on first use, and Spark's own
  * laziness defers execution to an action — mirroring Beam's deferred
  * pipeline construction (SURVEY §3.1).
  */
final class XbeamDataset private (
    val spark: SparkSession,
    val template: Template,
    val chunkSizes: Map[String, Int],
    val splitVars: Boolean,
    scan: Option[ScanSpec],
    plan: Option[Dataset[(ChunkKey, ArrayChunk)]],
    /** Non-Gregorian CF calendar tags (dim → tag) for coordinates that
      * are RAW CF counts on a fixed-year calendar (noleap / all_leap /
      * 360_day — CMIP time axes, which cannot map onto datetime64).
      * Consumed by [[timeField]] and the resample family; dropped when
      * an operation replaces the dim's coordinate with non-count
      * values. */
    val calendars: Map[String, Zarr.CfCalTime] = Map.empty)
    extends Serializable {

  import ChunkTransforms.{Pair, pairEnc}

  def isScan: Boolean = scan.isDefined

  private def withPlan(t: Template, c: Map[String, Int], sv: Boolean,
                       ds: Dataset[Pair]): XbeamDataset =
    new XbeamDataset(spark, t, c, sv, None, Some(ds), calendars)

  private def withScan(t: Template, c: Map[String, Int], sv: Boolean,
                       s: ScanSpec): XbeamDataset =
    new XbeamDataset(spark, t, c, sv, Some(s), None, calendars)

  /** This dataset with its chunk stream persisted as a disk-spillable
    * RDD (the ffill/prefix-scan idiom: MEMORY_AND_DISK, released by the
    * ContextCleaner once the RDD is unreferenced — no session-lifetime
    * cache residency). For the two-pass sketch reductions (exact bounds
    * collect + histogram fill; bucket bounds + bucket reduce) the
    * source is traversed once per pass, and without this every pass
    * re-runs the full upstream — a row→chunk assembly shuffle or a
    * whole-store scan. Each source byte is consumed twice either way;
    * the cache trades the second upstream replay for one spillable
    * write + local read. `spark.graft.multipass.cache=false` disables
    * it for deployments where re-scanning the store is cheaper than
    * materializing it (e.g. a cold-cache object store holding far more
    * than local disk). */
  private def withCachedChunks: XbeamDataset =
    if (spark.conf.get("spark.graft.multipass.cache", "true") != "true") this
    else {
      import ChunkTransforms.pairEnc
      val r = chunkDataset.rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      withPlan(template, chunkSizes, splitVars,
        spark.createDataset(r)(pairEnc))
    }

  /** Copy with a replaced calendar-tag map (drop/install tags around
    * coordinate rewrites). */
  private def withCalendars(c: Map[String, Zarr.CfCalTime]): XbeamDataset =
    new XbeamDataset(spark, template, chunkSizes, splitVars, scan, plan, c)

  /** The distributed chunk collection. For a scan: `spark.range` over
    * the chunk count → executor-side key math + region reads — the
    * DatasetToChunks equivalent (core.py:544-670) with no driver-side
    * key enumeration (the reference's >200k-task worker-side sharding,
    * core.py:596-607, is what `range` gives us natively). */
  def chunkDataset: Dataset[Pair] = plan.getOrElse {
    val spec = scan.get
    val tmpl = template
    val chunks = chunkSizes
    val dimOrder = tmpl.dimOrder
    val dimSizes = tmpl.dimSizes
    val total = ChunkGrid.totalChunks(chunks, dimSizes)
    val sv = splitVars
    // the reference's per-operator metric counters (core.py:533-535) as
    // named accumulators — visible in the Spark UI under the same names
    val readChunks = spark.sparkContext.longAccumulator("graft.read-chunks")
    val readBytes = spark.sparkContext.longAccumulator("graft.read-bytes")
    // store endpoints/credentials vended on the driver must ride the
    // closure — forked executor JVMs never see driver sys.props
    val ambient = graft.sources.GraftProps.snapshot()
    val base = spark.range(total).map { i =>
      graft.sources.GraftProps.restore(ambient)
      val key = ChunkGrid.keyForIndex(i, dimOrder, chunks, dimSizes)
      val chunk = XbeamDataset.readChunk(spec, tmpl, chunks, key)
      readChunks.add(1L)
      readBytes.add(chunk.nbytes)
      (key, chunk)
    }
    if (sv) base.flatMap { p: Pair => ChunkOps.splitVariables(p._1, p._2) }
    else base
  }

  // ------------------------------------------------------- projections

  /** Keep only the given variables (Key.vars subsetting / __getitem__,
    * core.py:515-541, dataset.py:1136). On a scan this prunes the read
    * itself — nothing else is ever fetched. */
  def select(names: Set[String]): XbeamDataset = scan match {
    case Some(spec) =>
      withScan(template.selectVars(names), chunkSizes.filter(kv =>
        template.selectVars(names).dimSizes.contains(kv._1)), splitVars, spec)
    case None =>
      withPlan(template.selectVars(names), chunkSizes, splitVars,
        chunkDataset.flatMap { p: Pair =>
          val keep = p._1.varsSet.getOrElse(p._2.varNames).intersect(names)
          if (keep.isEmpty) Nil
          else Seq((p._1.withVars(p._1.vars.map(_ => keep.toSet)),
            p._2.select(keep)))
        })
  }

  /** Slice `length` elements starting at `start` along `dim` (xarray
    * isel range slicing) — only valid on an untransformed scan, where
    * it pushes into the scan region instead of filtering data; emitted
    * keys re-origin at 0 over the sliced region. [[head]]/[[tail]] are
    * its special cases. The dim coordinate slices with it. */
  def slice(dim: String, start: Long, length: Long): XbeamDataset = {
    val spec = scan.getOrElse(throw new UnsupportedOperationException(
      "slice is only supported on untransformed (scan) datasets"))
    val size = template.dimSizes(dim)
    require(start >= 0 && length >= 0 && start + length <= size,
      s"slice [$start, ${start + length}) out of range for dim $dim of size $size")
    val newCoords = template.coords.get(dim) match {
      case Some(c) =>
        template.coords + (dim -> c.slice(Array(start.toInt), Array(length.toInt)))
      case None => template.coords
    }
    withScan(template.copy(
      dims = template.dims.map { case (d, s) =>
        if (d == dim) (d, length) else (d, s)
      },
      coords = newCoords),
      chunkSizes, splitVars,
      spec.copy(offset =
        spec.offset + (dim -> (spec.offset.getOrElse(dim, 0L) + start))))
  }

  /** Select by coordinate range [lo, hi], inclusive, along `dim` —
    * xarray `sel(dim=slice(lo, hi))` (e.g. a time range on a
    * datetime64 coord). Requires a monotonically non-decreasing dim
    * coordinate; resolves to offsets on the driver (coords are
    * template-level) and pushes down as a [[slice]]. This overload
    * compares integer/datetime64 coords exactly as longs. */
  def sel(dim: String, lo: Long, hi: Long): XbeamDataset =
    selByFlags(dim, coordFor(dim).toLongs.map(v => (v >= lo, v <= hi)),
      sortedCheck = coordFor(dim).toLongs.sliding(2).forall(w =>
        w.length < 2 || w(0) <= w(1)))

  /** [[sel]] for float coordinates. */
  def sel(dim: String, lo: Double, hi: Double): XbeamDataset =
    selByFlags(dim, coordFor(dim).toDoubles.map(v => (v >= lo, v <= hi)),
      sortedCheck = coordFor(dim).toDoubles.sliding(2).forall(w =>
        w.length < 2 || w(0) <= w(1)))

  /** Selection by STRING coordinate labels (xarray
    * `sel(dim=["S03", "S07"])` on a station/label coordinate). The
    * label array is store-resident (string coords don't embed in the
    * numeric template); it is read once on the driver — coordinate
    * arrays are plan-scale — and resolved to positions honoring any
    * prior slice pushdown. A contiguous run lowers to [[slice]] (scan
    * pushdown: the read itself shrinks); anything else to the
    * [[isel]] gather. Only valid on a dataset that originated
    * [[XbeamDataset.fromZarr]]. */
  def selLabels(dim: String, labels: Seq[String]): XbeamDataset = {
    val spec = scan.getOrElse(throw new IllegalArgumentException(
      s"selLabels($dim): label selection needs the zarr scan's string " +
        "coordinate — apply it before other transforms"))
    val src = spec.source match {
      case z: ZarrSource => z
      case _ => throw new IllegalArgumentException(
        s"selLabels($dim): no zarr store to read the label coordinate from")
    }
    val m = src.metas.getOrElse(dim, throw new IllegalArgumentException(
      s"selLabels($dim): the store has no coordinate array for $dim"))
    require(m.stringDType.isDefined,
      s"selLabels($dim): coordinate is not string-typed — use sel")
    val values = Zarr.readStringCoord(src.path, dim, m)
    val want = labels.toSet
    val off = spec.offset.getOrElse(dim, 0L)
    val size = template.dimSizes(dim)
    val pos = (0L until size).filter(i => want.contains(values((off + i).toInt)))
    // xarray's list-sel raises KeyError for ANY missing label — a
    // silently-narrower result would hide a typo'd station id
    val found = pos.iterator.map(i => values((off + i).toInt)).toSet
    val missing = want -- found
    require(missing.isEmpty, s"selLabels($dim): no coordinate values " +
      s"match ${missing.toSeq.sorted.mkString(", ")}")
    val contiguous = pos.zipWithIndex.forall { case (p, j) => p == pos.head + j }
    if (contiguous) slice(dim, pos.head, pos.length.toLong)
    else isel(dim, pos.toArray)
  }

  private def coordFor(dim: String): NdArray =
    template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"sel($dim): the dataset has no coordinate for $dim"))

  private def selByFlags(dim: String, flags: Array[(Boolean, Boolean)],
                         sortedCheck: Boolean): XbeamDataset = {
    require(sortedCheck,
      s"sel($dim) requires a monotonically non-decreasing coordinate")
    val start = flags.indexWhere(_._1)
    val endExcl = flags.lastIndexWhere(_._2) + 1
    require(start >= 0 && endExcl > start,
      s"sel($dim): no coordinate values in range")
    slice(dim, start, endExcl - start)
  }

  /** First `n` elements along `dim` — only valid on an untransformed
    * scan, where it rewrites the scan region instead of filtering data
    * (dataset.py:1105-1121: "only supported for untransformed
    * datasets"). */
  def head(dim: String, n: Long): XbeamDataset =
    slice(dim, 0, math.min(n, template.dimSizes(dim)))

  /** Multi-dim head, reference-style (`head(time=5, lat=2)`,
    * dataset.py:1105-1121). */
  def head(dims: (String, Long)*): XbeamDataset =
    dims.foldLeft(this) { case (d, (k, n)) => d.head(k, n) }

  /** Multi-dim tail (dataset.py:1123-1133). */
  def tail(dims: (String, Long)*): XbeamDataset =
    dims.foldLeft(this) { case (d, (k, n)) => d.tail(k, n) }

  /** Last `n` elements along `dim` (dataset.py:1123-1133). */
  def tail(dim: String, n: Long): XbeamDataset = {
    val size = template.dimSizes(dim)
    val newLen = math.min(n, size)
    slice(dim, size - newLen, newLen)
  }

  /** Reorder dims (dataset.py:1137) — per-chunk axis permutation; the
    * template's dim order and each variable's axis order both follow. */
  def transpose(dimOrder: Seq[String]): XbeamDataset = {
    require(dimOrder.toSet == template.dimOrder.toSet,
      s"transpose dims $dimOrder != dataset dims ${template.dimOrder}")
    val newTemplate = Template(
      dimOrder.map(d => d -> template.dimSizes(d)),
      template.vars.map { case (n, vs) =>
        n -> vs.copy(dims = dimOrder.filter(vs.dims.contains))
      },
      template.coords, template.attrs)
    withPlan(newTemplate, chunkSizes, splitVars,
      chunkDataset.map { p: Pair =>
        (p._1, p._2.mapVars { (_, va) =>
          val newDims = dimOrder.filter(va.dims.contains)
          val perm = newDims.map(va.dims.indexOf).toArray
          VarArray(newDims, va.arr.transpose(perm))
        })
      })
  }

  /** Method-chaining escape hatch (Dataset.pipe, dataset.py:1139-1141). */
  def pipe[T](f: XbeamDataset => T): T = f(this)

  /** Relational view — one row per grid position (TabularBridge). */
  def toDataFrame: DataFrame = TabularBridge.toDataFrame(this)

  // ---------------------------------------------------------- mapBlocks

  /** Apply a chunk-wise function to every chunk — the primary UDF
    * surface (map_blocks, dataset.py:880-964). The new template/chunks
    * are inferred by applying `f` to a zero-filled origin-shaped dummy
    * chunk (the JVM substitute for the reference's lazy-Dask template
    * application, dataset.py:910-919): per-dim chunk ratios must be
    * even rescalings and dim sizes must rescale integrally
    * (_infer_new_chunks, dataset.py:202-233); keys rescale offsets by
    * the same ratio (_apply_to_each_chunk, dataset.py:335-358). */
  /** mapBlocks with an explicitly declared result template and chunking
    * — the reference's `template=` escape hatch for functions whose
    * output shape inference can't derive (map_blocks signature,
    * dataset.py:880-899). Keys are kept as-is; the caller declares the
    * truth and per-chunk validation enforces it downstream. */
  def mapBlocks(f: ArrayChunk => ArrayChunk, newTemplate: Template,
                newChunks: Map[String, Int]): XbeamDataset = {
    // dims shared with the source inherit its chunking unless newChunks
    // overrides (the reference normalizes against previous chunks);
    // only brand-new dims default to one full-dim chunk
    val inherited = chunkSizes.filter(kv => newTemplate.dimSizes.contains(kv._1))
    val nc = ChunkGrid.normalizeChunks(inherited ++ newChunks,
      newTemplate.dimSizes)
    // the reference validates chunk-COUNT preservation even with an
    // explicit template (dataset.py:943-957): a multi-chunk source dim
    // must survive into the result with the same chunk count, or keys
    // would collide / go unmapped
    template.dimOrder.foreach { d =>
      val size = template.dimSizes(d)
      val old = chunkSizes(d)
      if (old < size) {
        if (!newTemplate.dimSizes.contains(d))
          throw new IllegalArgumentException(
            s"dimension '$d' has multiple chunks on the source dataset, " +
              "and therefore must be included in the result of map_blocks, " +
              s"but is not in the new template: ${newTemplate.dimOrder}")
        val oldCount = (size + old - 1) / old
        val newCount =
          (newTemplate.dimSizes(d) + nc(d) - 1) / nc(d)
        require(oldCount == newCount,
          s"dimension '$d' has $oldCount chunks on the source dataset " +
            s"and $newCount in the result of map_blocks")
      }
    }
    withPlan(newTemplate, nc, splitVars,
      chunkDataset.map { p: Pair => (p._1, f(p._2)) })
  }

  def mapBlocks(f: ArrayChunk => ArrayChunk): XbeamDataset = {
    val dimSizes = template.dimSizes
    val dummyShape = template.dimOrder.map(d =>
      d -> math.min(chunkSizes(d).toLong, dimSizes(d)).toInt).toMap
    val dummy = ArrayChunk(template.vars.map { case (n, vs) =>
      n -> VarArray(vs.dims, NdArray.zeros(vs.dtype, vs.dims.map(dummyShape).toArray))
    })
    val out = f(dummy)
    if (splitVars)
      require(out.varNames == dummy.varNames,
        "cannot use map_blocks on a dataset with split_vars=true if the " +
          "transformation returns a different set of variables. " +
          s"Old split variables: ${dummy.varNames}. " +
          s"New split variables: ${out.varNames}")
    val outSizes = out.dimSizes
    // a multi-chunk source dim dropped by `f` would collapse distinct
    // keys onto one output key (dataset.py:943-950): reject loudly
    template.dimOrder.foreach { d =>
      if (chunkSizes(d) < template.dimSizes(d) && !outSizes.contains(d))
        throw new IllegalArgumentException(
          s"dimension '$d' has multiple chunks on the source dataset, " +
            "and therefore must be included in the result of map_blocks, " +
            s"but is not in the new template: ${outSizes.keys.toSeq.sorted}")
    }
    // per-dim rational scale factor newChunk/oldChunk
    val scales: Map[String, (Long, Long)] = outSizes.map { case (d, outLen) =>
      dummyShape.get(d) match {
        case Some(inLen) =>
          require(outLen % inLen == 0 || inLen % outLen == 0,
            s"cannot infer new chunks for dimension '$d' with changed " +
              s"size $inLen -> $outLen: map_blocks must evenly rescale")
          d -> (outLen.toLong, inLen.toLong)
        case None => d -> (1L, 1L) // brand-new dim: single chunk
      }
    }
    val newDims: Seq[(String, Long)] =
      template.dims.collect { case (d, s) if outSizes.contains(d) =>
        val (num, den) = scales(d)
        require((s * num) % den == 0,
          s"cannot infer new chunks for dimension '$d': the rescaled " +
            s"chunks do not evenly divide the new size of dim size $s")
        d -> s * num / den
      } ++ outSizes.toSeq.sortBy(_._1).collect {
        case (d, s) if !template.dimSizes.contains(d) => d -> s.toLong
      }
    val newChunks: Map[String, Int] = outSizes.map { case (d, outLen) =>
      if (template.dimSizes.contains(d)) {
        val (num, den) = scales(d)
        val scaled = chunkSizes(d).toLong * num
        require(scaled % den == 0,
          s"cannot infer new chunks for dimension '$d': existing chunks " +
            s"${chunkSizes(d)} do not evenly rescale by $num/$den")
        d -> (scaled / den).toInt
      } else d -> outLen
    }
    val newTemplate = Template(
      newDims,
      out.vars.map { case (n, va) => n -> VarSpec(va.dims, va.arr.dtype) },
      template.coords.filter(kv => newChunks.contains(kv._1)),
      template.attrs)
    val sc = scales
    withPlan(newTemplate, newChunks, splitVars,
      chunkDataset.map { p: Pair =>
        val nk = p._1.copy(offsets = p._1.offsets.collect {
          case (d, off) if sc.contains(d) =>
            val (num, den) = sc(d); d -> off * num / den
        })
        (nk, f(p._2))
      })
  }

  // ------------------------------------------------------------ rechunk

  /** Byte-target rechunk (`chunks="200MB"`, dataset.py:98-108): every
    * dim re-chunked so whole chunks land near the byte budget, sized
    * against the combined itemsize and snapped to multiples of the
    * current chunks where possible. */
  def rechunk(byteTarget: String): XbeamDataset =
    rechunk(ChunkGrid.normalizeChunkSpecs(
      Map.empty, template.dimSizes, template.dimOrder,
      template.combinedItemsize(splitVars),
      default = Some(ChunkSpec.parse(byteTarget)),
      previousChunks = chunkSizes))

  /** Rechunk from a full per-dim [[ChunkSpec]] map — exact counts, -1,
    * and byte targets may mix, like the reference's dict form
    * `{'time': -1, ...: '100MB'}` (dataset.py:98-108). */
  def rechunkSpecs(specs: Map[String, ChunkSpec],
                   default: Option[ChunkSpec] = None,
                   maxMem: Long = 1L << 30): XbeamDataset =
    rechunk(ChunkGrid.normalizeChunkSpecs(
      specs, template.dimSizes, template.dimOrder,
      template.combinedItemsize(splitVars), default,
      previousChunks = chunkSizes), maxMem)

  /** Adjust chunking (dataset.py:968-1038). No-op when chunks match
    * (rechunk.py:568-571). On an untransformed scan whose new chunks are
    * whole multiples of the current ones (or the full dim) the rechunk is
    * a re-read (dataset.py:1010-1019): the scan's region reads span more
    * blocks, zero shuffles. Otherwise the memory-bounded multi-stage
    * Rechunk runs on per-variable chunks ("smaller itemsize allows much
    * more flexibility", dataset.py:1022-1024), with two departures from
    * the reference's stage-per-GroupByKey chain:
    *  - on a scan, the source→read edge stage is the same re-read when
    *    the plan's read chunks are re-readable, so its shuffle goes;
    *  - the last consolidating stage merges the variables back in the
    *    same pass, so ConsolidateVariables needs no shuffle of its own
    *    (a chain that only splits never splits the variables at all).
    * A pancake→pencil rechunk planned in 2 stages thus shuffles twice. */
  def rechunk(newChunks: Map[String, Int],
              maxMem: Long = 1L << 30): XbeamDataset = {
    val target = ChunkGrid.normalizeChunks(
      chunkSizes ++ newChunks, template.dimSizes)
    if (target == chunkSizes) return this
    if (rereadable(target))
      return withScan(template, target, splitVars, scan.get)
    val stages = ChunkTransforms.rechunkStages(template.dimOrder,
      template.dimSizes, chunkSizes, target,
      template.combinedItemsize(splitVars), maxMem = maxMem)
    val (input, rest) =
      if (rereadable(stages.head._2))
        (withScan(template, stages.head._2, splitVars, scan.get), stages.tail)
      else (this, stages)
    val merge = !splitVars &&
      rest.exists { case (in, tgt) => ChunkTransforms.consolidates(in, tgt) }
    val pieces =
      if (merge) ChunkTransforms.splitVariables(input.chunkDataset)
      else input.chunkDataset
    withPlan(template, target, splitVars,
      ChunkTransforms.rechunk(pieces, rest, template.dimSizes,
        template.nbytes, template.vars.size, merge))
  }

  /** Whether this is a scan that can read `chunks` directly: each is a
    * whole multiple of the current chunk or spans its full dim. */
  private def rereadable(chunks: Map[String, Int]): Boolean =
    scan.isDefined && template.dimOrder.forall { d =>
      chunks(d) % chunkSizes(d) == 0 || chunks(d) == template.dimSizes(d)
    }

  // --------------------------------------------------------------- mean

  /** Mean over the given dims (Dataset.mean, dataset.py:1060-1103):
    * rekey dropping aggregated offsets, per-chunk partial (sum, count),
    * one keyed shuffle with Spark's map-side partial aggregation
    * standing in for the reference's staged fanout (combiners.py). */
  def mean(dims: Set[String], skipna: Boolean = true): XbeamDataset = {
    require(dims.subsetOf(template.dimSizes.keySet),
      s"mean dims $dims not all in ${template.dimOrder}")
    val newTemplate = Template(
      template.dims.filterNot(d => dims(d._1)),
      template.vars.map { case (n, vs) =>
        n -> VarSpec(vs.dims.filterNot(dims), DType.F64)
      },
      template.coords -- dims, template.attrs)
    val newChunks = chunkSizes -- dims
    withPlan(newTemplate, newChunks, splitVars,
      ChunkTransforms.mean(chunkDataset, dims, skipna))
  }

  /** Mean over everything → a single chunk keyed at the origin
    * (Mean.Globally, combiners.py:150-166). */
  def meanGlobal(skipna: Boolean = true): XbeamDataset =
    mean(template.dimSizes.keySet, skipna)

  /** Weighted mean over dims (xarray `ds.weighted(w).mean(dims)` — the
    * cos-latitude area weighting every global climate statistic needs):
    * per-dim 1-d weight arrays, element weight = product over reduced
    * dims, NaN elements masked out of both numerator and weight total.
    * Same one-shuffle shape as [[mean]]; only (Σ w·v, Σ w) partials
    * cross the wire. */
  def weightedMean(dims: Set[String], weights: Map[String, NdArray],
                   skipna: Boolean = true): XbeamDataset = {
    require(dims.subsetOf(template.dimSizes.keySet),
      s"weightedMean dims $dims not all in ${template.dimOrder}")
    require(weights.keySet.subsetOf(dims),
      s"weight dims ${weights.keySet} not all among reduced dims $dims")
    weights.foreach { case (d, arr) =>
      require(arr.ndim == 1 && arr.shape(0) == template.dimSizes(d),
        s"weights for dim $d must be 1-d of length ${template.dimSizes(d)}, " +
          s"got shape ${arr.shape.toSeq}")
    }
    val newTemplate = Template(
      template.dims.filterNot(d => dims(d._1)),
      template.vars.map { case (n, vs) =>
        n -> VarSpec(vs.dims.filterNot(dims), DType.F64)
      },
      template.coords -- dims, template.attrs)
    withPlan(newTemplate, chunkSizes -- dims, splitVars,
      ChunkTransforms.weightedMean(chunkDataset, dims,
        weights.map { case (d, a) => d -> a.toDoubles }, skipna))
  }

  /** Weighted sum over dims (xarray `ds.weighted(w).sum()`): Σ w·v with
    * NaN elements masked out of both the value and the weight total —
    * same one-shuffle shape as [[weightedMean]]. */
  def weightedSum(dims: Set[String], weights: Map[String, NdArray],
                  skipna: Boolean = true): XbeamDataset =
    weightedReduced(dims, weights, "sum", skipna)

  /** Weighted variance over dims (xarray `ds.weighted(w).var()`):
    * Σw·v²/Σw − (Σw·v/Σw)², clamped at 0 — the weighted population
    * moment xarray computes. */
  def weightedVar(dims: Set[String], weights: Map[String, NdArray],
                  skipna: Boolean = true): XbeamDataset =
    weightedReduced(dims, weights, "var", skipna)

  /** Weighted standard deviation over dims (xarray
    * `ds.weighted(w).std()`). */
  def weightedStd(dims: Set[String], weights: Map[String, NdArray],
                  skipna: Boolean = true): XbeamDataset =
    weightedReduced(dims, weights, "std", skipna)

  private def weightedReduced(dims: Set[String], weights: Map[String, NdArray],
                              kind: String, skipna: Boolean): XbeamDataset = {
    require(dims.subsetOf(template.dimSizes.keySet),
      s"weighted $kind dims $dims not all in ${template.dimOrder}")
    require(weights.keySet.subsetOf(dims),
      s"weight dims ${weights.keySet} not all among reduced dims $dims")
    weights.foreach { case (d, arr) =>
      require(arr.ndim == 1 && arr.shape(0) == template.dimSizes(d),
        s"weights for dim $d must be 1-d of length ${template.dimSizes(d)}, " +
          s"got shape ${arr.shape.toSeq}")
    }
    val newTemplate = Template(
      template.dims.filterNot(d => dims(d._1)),
      template.vars.map { case (n, vs) =>
        n -> VarSpec(vs.dims.filterNot(dims), DType.F64)
      },
      template.coords -- dims, template.attrs)
    withPlan(newTemplate, chunkSizes -- dims, splitVars,
      ChunkTransforms.weightedReduce(chunkDataset, dims,
        weights.map { case (d, a) => d -> a.toDoubles }, kind, skipna))
  }

  /** Pearson correlation of two variables over `dims` (xarray
    * `xr.corr`): one keyed shuffle of six joint-moment partials
    * [n, Σx, Σy, Σxy, Σx², Σy²] per kept cell — data never reshuffles,
    * pairwise-complete (both non-NaN) observations only. The output is
    * a single variable `out` over the kept dims. */
  def corr(x: String, y: String, dims: Set[String], out: String = "corr",
           skipna: Boolean = true): XbeamDataset =
    pairReduced(x, y, dims, "corr", out, skipna)

  /** Covariance of two variables over `dims` (xarray `xr.cov`;
    * `ddof` = 1 is xarray's default, the sample convention). */
  def cov(x: String, y: String, dims: Set[String], ddof: Int = 1,
          out: String = "cov", skipna: Boolean = true): XbeamDataset = {
    require(ddof >= 0, s"ddof must be >= 0, got $ddof")
    pairReduced(x, y, dims, s"cov:$ddof", out, skipna)
  }

  private def pairReduced(x: String, y: String, dims: Set[String],
                          kind: String, out: String,
                          skipna: Boolean): XbeamDataset = {
    require(dims.nonEmpty && dims.subsetOf(template.dimSizes.keySet),
      s"dims $dims not all in ${template.dimOrder}")
    require(!splitVars,
      "corr/cov needs both variables in each chunk — consolidate variables first")
    val xs = template.vars.getOrElse(x,
      throw new IllegalArgumentException(s"unknown variable $x"))
    val ys = template.vars.getOrElse(y,
      throw new IllegalArgumentException(s"unknown variable $y"))
    require(xs.dims == ys.dims,
      s"corr/cov needs $x and $y on identical dims, got ${xs.dims} vs ${ys.dims}")
    require(dims.subsetOf(xs.dims.toSet),
      s"$x does not span all of $dims (has ${xs.dims})")
    val newTemplate = Template(
      template.dims.filterNot(d => dims(d._1)),
      Map(out -> VarSpec(xs.dims.filterNot(dims), DType.F64)),
      template.coords -- dims, template.attrs)
    withPlan(newTemplate, chunkSizes -- dims, false,
      ChunkTransforms.pairMomentsReduce(chunkDataset, x, y, dims, kind, out,
        skipna))
  }

  /** Generalized dot product of two variables (xarray `xr.dot`): the
    * elementwise product summed over `dims` — a narrow per-chunk
    * multiply composed with [[sum]]'s one-shuffle reduction. */
  def dot(x: String, y: String, dims: Set[String],
          out: String = "dot", skipna: Boolean = true): XbeamDataset = {
    val xs = template.vars.getOrElse(x,
      throw new IllegalArgumentException(s"unknown variable $x"))
    val ys = template.vars.getOrElse(y,
      throw new IllegalArgumentException(s"unknown variable $y"))
    require(xs.dims == ys.dims,
      s"dot needs $x and $y on identical dims, got ${xs.dims} vs ${ys.dims}")
    val xn = x
    val yn = y
    val o = out
    mapBlocks { c =>
      val xa = c.vars(xn)
      val ya = c.vars(yn)
      ArrayChunk(Map(o -> VarArray(xa.dims, xa.arr.zipF64(ya.arr)(_ * _))))
    }.sum(dims, skipna)
  }

  /** Every `stride`-th position along `dim`, starting at 0 (xarray
    * `thin(dim=stride)` / `isel(dim=slice(None, None, stride))` — the
    * standard subsample-for-plotting / every-Nth-frame op). Narrow and
    * dtype-preserving: each chunk takes its own stride positions; when
    * `stride` divides the chunk size the output chunks land on the
    * `chunk/stride` grid as-is — ZERO shuffle at any scale — otherwise
    * one consolidation realigns them. The dim's coordinate thins
    * plan-time. */
  def thin(dim: String, stride: Int): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(stride >= 1, s"thin stride must be >= 1, got $stride")
    if (stride == 1) return this
    import ChunkTransforms.{Pair, pairEnc}
    val d = dim
    val st = stride.toLong
    val n = template.dimSizes(d)
    val outN = (n + st - 1) / st
    val thinned = chunkDataset.flatMap { p: Pair =>
      val (key, chunk) = p
      chunk.dimSizes.get(d) match {
        case None => Iterator.single(p)
        case Some(ext) =>
          val off = key.offsets.getOrElse(d, 0L)
          val p0 = (off + st - 1) / st * st // first kept global position
          if (p0 >= off + ext) Iterator.empty
          else {
            val positions = Iterator.iterate(p0)(_ + st)
              .takeWhile(_ < off + ext).map(g => (g - off).toInt).toArray
            Iterator.single((key.copy(offsets = key.offsets + (d -> p0 / st)),
              ArrayChunk(chunk.vars.map { case (nm, va) =>
                if (!va.dims.contains(d)) nm -> va
                else nm -> VarArray(va.dims,
                  va.arr.takeAlong(va.dims.indexOf(d), positions))
              })))
          }
      }
    }
    val newTemplate = template.copy(
      dims = template.dims.map { case (dd, sz) =>
        dd -> (if (dd == d) outN else sz)
      },
      coords = template.coords.map { case (dd, c) =>
        if (dd == d) dd -> c.takeAlong(0,
          Iterator.iterate(0L)(_ + st).takeWhile(_ < n).map(_.toInt).toArray)
        else dd -> c
      })
    if (chunkSizes(d) % stride == 0) {
      // aligned: every input chunk's kept run starts on its own offset,
      // so outputs already sit on the chunk/stride grid — no shuffle
      withPlan(newTemplate, chunkSizes + (d -> chunkSizes(d) / stride),
        splitVars, thinned)
    } else {
      val cs = chunkSizes
      withPlan(newTemplate, cs, splitVars,
        ChunkTransforms.consolidateChunks(
          ChunkTransforms.splitChunks(thinned, cs), cs))
    }
  }

  /** Drop the listed coordinate labels along `dim` (xarray
    * `drop_sel(dim=[...])` — the complement of label selection): the
    * kept label set resolves PLAN-TIME from the template coordinate
    * and lowers to [[reindex]]'s exact-label gather — one bounded
    * co-partitioned shuffle, never a filter over data. Labels absent
    * from the coordinate are rejected (xarray's KeyError). */
  def dropSel(dim: String, labels: Array[Double]): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"drop_sel needs a coordinate on $dim"))
    require(coord.dtype == DType.F64,
      s"drop_sel needs a float64 coordinate on $dim, got ${coord.dtype.zarr}")
    val have = coord.toDoubles
    val haveSet = have.toSet
    labels.foreach(l => require(haveSet(l),
      s"drop_sel label $l not found in the $dim coordinate"))
    val drop = labels.toSet
    val kept = have.filterNot(drop)
    require(kept.nonEmpty, s"drop_sel would drop every $dim label")
    reindex(dim, kept)
  }

  /** Arbitrary positional selection along `dim` (xarray
    * `isel(dim=[i0, i1, ...])` with an integer array — fancy
    * indexing): output position j holds source position
    * `positions(j)`; repeats and reorders allowed. Lowers to the
    * dtype-preserving resolved gather ([[sortby]]'s machinery): source
    * chunks ship only the row slivers an output chunk needs through
    * one bounded shuffle — no global sort, integer variables stay
    * integer. The dim's coordinate (if any) gathers along. */
  def isel(dim: String, positions: Array[Long]): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val n = template.dimSizes(dim)
    require(n <= Int.MaxValue,
      s"isel over dim $dim: extent $n exceeds the position-gather's " +
        "Int index space — slice/sel the region first")
    require(positions.nonEmpty, "isel needs at least one position")
    positions.foreach(p => require(p >= 0 && p < n,
      s"isel position $p out of range [0, $n) on $dim"))
    val posOf = positions.map(_.toInt)
    val outCoord = template.coords.get(dim).map { c =>
      val item = c.dtype.itemsize
      val out = NdArray.zeros(c.dtype, Array(posOf.length))
      var j = 0
      while (j < posOf.length) {
        System.arraycopy(c.data, posOf(j) * item, out.data, j * item, item)
        j += 1
      }
      out
    }
    reindexGatherOpt(dim, posOf, outCoord)
  }

  /** Drop the given positions along `dim` (xarray `drop_isel`) —
    * [[isel]] of the kept complement, original order preserved. */
  def dropIsel(dim: String, positions: Array[Long]): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val n = template.dimSizes(dim)
    require(n <= Int.MaxValue,
      s"drop_isel over dim $dim: extent $n exceeds the position-gather's " +
        "Int index space — slice/sel the region first")
    positions.foreach(p => require(p >= 0 && p < n,
      s"drop_isel position $p out of range [0, $n) on $dim"))
    val drop = positions.toSet
    // primitive complement build — no boxed range materialization
    val kept = new Array[Long](n.toInt - drop.size)
    var src = 0L
    var j = 0
    while (src < n) {
      if (!drop(src)) { kept(j) = src; j += 1 }
      src += 1
    }
    require(kept.nonEmpty, s"drop_isel would drop every $dim position")
    isel(dim, kept)
  }

  /** Stack every data variable along a new leading dim (xarray
    * `Dataset.to_dataarray(dim="variable")`): the output carries ONE
    * variable (`name`) whose position k along `dim` is the k-th
    * variable in SORTED-name order (xarray keeps insertion order and a
    * string coordinate; our coords are numeric, so the deterministic
    * sort IS the documented order). Values promote to float64 —
    * xarray's common-dtype result for mixed variables. Zero-shuffle:
    * each variable's chunks relabel into their `dim` slot via
    * [[concatNew]]'s metadata rewrite + union; the per-var [[astype]]
    * is chunk-local. Variables must span identical dims (xarray
    * broadcasts first; broadcast with [[broadcastLike]] as needed). */
  def toDataArray(dim: String = "variable",
                  name: String = "value"): XbeamDataset = {
    require(template.vars.nonEmpty, "to_dataarray needs data variables")
    val names = template.vars.keys.toSeq.sorted
    val headDims = template.vars(names.head).dims
    names.foreach { n =>
      require(template.vars(n).dims == headDims,
        s"to_dataarray: variable $n spans ${template.vars(n).dims}, " +
          s"not ${headDims} — broadcast to common dims first")
    }
    XbeamDataset.concatNew(dim, names.map(n =>
      select(Set(n)).astype(DType.F64).rename(Map(n -> name))))
  }

  /** Multi-dim rolling window (xarray `rolling(t=a, x=b).<op>()`).
    *
    * The SEPARABLE kinds compose directly: a rectangle's sum is the
    * row-sums summed and its extremum the row-extrema reduced, so
    * sum/min/max run the 1-D halo [[rolling]] once per dim — each pass
    * exchanges only its own halo slivers.
    *
    * mean/var/std do NOT compose that way (a truncated edge window's
    * mean-of-means is not the rectangle mean), but their MOMENTS do:
    * the rectangle's Σx, Σx² and valid count are each a separable
    * rollingNd-sum over NaN-zeroed planes (x, x², 1[valid]), so the
    * non-separable kinds lower to moment planes ridden through the
    * same per-dim halo passes and folded per cell at the end —
    * mean = Σx/n, var = Σx²/n − (Σx/n)² (population, ddof 0, matching
    * the 1-D [[rolling]]), std = √var; NaN where the rectangle's valid
    * count is below `minPeriods` (or zero). Chunk bodies still never
    * cross the wire — each pass ships its own window−1 halo slivers
    * of the (constant ×2 or ×3) moment planes.
    *
    * `minPeriods`: sum with minPeriods UNSET (<=0, the default) and
    * min/max chain the NaN-poisoning 1-D passes directly; sum with any
    * EXPLICIT minPeriods>=1 rides the moment machinery so the
    * RECTANGLE's valid count gates the result (xarray/bottleneck
    * `min_count`: NaN-skipping sum, NaN below minPeriods valid cells —
    * a per-pass threshold could not express a rectangle count; and
    * explicit minPeriods=1 means min_count=1, i.e. the valid-sum, NOT
    * the poison path — raising minPeriods can only add NaNs); min/max
    * reject minPeriods>1 loudly (no separable valid-count
    * decomposition exists for extremes).
    *
    * A variable spanning only SOME window dims rolls over the dims it
    * has (the per-dim passes skip dims a variable lacks — the same
    * behavior as chaining 1-D rollings); variables spanning none pass
    * through untouched. */
  def rollingNd(windows: Map[String, Int], op: String,
                minPeriods: Int = 0): XbeamDataset = {
    require(windows.nonEmpty, "rollingNd needs at least one dim")
    require(Set("sum", "min", "max", "mean", "var", "std")(op),
      s"rollingNd supports sum|min|max|mean|var|std, got $op " +
        "(order statistics do not decompose into separable passes)")
    windows.foreach { case (d, w) =>
      require(template.dimSizes.contains(d), s"unknown dim $d")
      require(w >= 2, s"rolling window on $d must be >= 2, got $w")
    }
    // min/max have no moment decomposition, and threading a per-pass
    // minPeriods through chained 1-D rollings would gate on each pass's
    // window-position count, NOT the rectangle's valid count — silently
    // wrong. The kernels NaN-poison anyway (any NaN in the rectangle
    // already yields NaN), so reject rather than mislead.
    require(minPeriods <= 1 || (op != "min" && op != "max"),
      s"rollingNd($op) does not support minPeriods > 1: extremes have " +
        "no separable valid-count decomposition (the NaN-poisoning " +
        "kernel already yields NaN for any rectangle containing NaN)")
    // sum with minPeriods UNSET (<=0, the default) keeps the chained
    // NaN-poisoning fast path (1-D rolling parity); any EXPLICIT
    // minPeriods>=1 falls through to the moment machinery below, whose
    // count plane gates the RECTANGLE's valid count — xarray/bottleneck
    // min_count semantics (NaN-skipping sum, NaN below minPeriods valid
    // cells). Routing explicit minPeriods=1 through the moment path too
    // keeps the semantics monotone: raising minPeriods can only ADD
    // NaNs, never remove the fast path's poison-NaNs.
    if (Set("min", "max")(op) || (op == "sum" && minPeriods <= 0))
      return windows.foldLeft(this) { case (ds, (d, w)) => ds.rolling(d, w, op) }
    val needS2 = op == "var" || op == "std"
    val wdims = windows.keySet
    val touched: Set[String] = template.vars.collect {
      case (n, vs) if vs.dims.exists(wdims) => n
    }.toSet
    require(touched.nonEmpty,
      s"rollingNd(${windows.keys.mkString(",")}): no variable spans a window dim")
    // the moment planes claim the __r* name space for the duration of
    // this lineage — an existing __r* variable would either be silently
    // dropped by the final filter or collide with a derived plane
    template.vars.keys.find(_.startsWith("__r")).foreach { n =>
      throw new IllegalArgumentException(
        s"rollingNd reserves variable names starting with __r for its " +
          s"internal moment planes; rename variable '$n' first")
    }
    // invalid cells contribute ZERO to every moment (the rolling-sum
    // kernel is NaN-poisoning, so NaN placeholders would void whole
    // windows — zero-fill plus the 0/1 validity plane recovers skipna
    // counting, the rollingPair trick)
    val s2Wanted = needS2
    val derived = mapBlocks { c =>
      ArrayChunk(c.vars.flatMap { case (n, va) =>
        if (!touched(n)) Seq(n -> va)
        else {
          val z = va.arr.mapF64(x => if (x.isNaN) 0.0 else x)
          val one = va.arr.mapF64(x => if (x.isNaN) 0.0 else 1.0)
          Seq(s"__r1_$n" -> VarArray(va.dims, z),
            s"__rn_$n" -> VarArray(va.dims, one)) ++
            (if (s2Wanted)
              Seq(s"__r2_$n" -> VarArray(va.dims,
                va.arr.mapF64(x => if (x.isNaN) 0.0 else x * x)))
            else Nil)
        }
      })
    }
    val summed = windows.foldLeft(derived) { case (ds, (d, w)) =>
      ds.rolling(d, w, "sum")
    }
    val o = op
    val minP = math.max(minPeriods, 1)
    summed.mapBlocks { c =>
      ArrayChunk(c.vars.collect {
        case (n, va) if !n.startsWith("__r") => n -> va
      } ++ touched.toSeq.sorted.flatMap { n =>
        c.vars.get(s"__r1_$n").map { s1va =>
          val s1 = s1va.arr
          val nn = c.vars(s"__rn_$n").arr
          val s2 = if (s2Wanted) c.vars(s"__r2_$n").arr else null
          val res = NdArray.zeros(DType.F64, s1.shape.clone())
          val sz = s1.size
          var i = 0L
          while (i < sz) {
            val cnt = nn.getDouble(i)
            val v =
              if (cnt < minP || cnt <= 0) Double.NaN
              else if (o == "sum") s1.getDouble(i)
              else {
                val m = s1.getDouble(i) / cnt
                if (o == "mean") m
                else {
                  val variance = s2.getDouble(i) / cnt - m * m
                  // FP cancellation can dip a hair below zero
                  val vv = if (variance < 0) 0.0 else variance
                  if (o == "var") vv else math.sqrt(vv)
                }
              }
            res.setDouble(i, v)
            i += 1
          }
          n -> VarArray(s1va.dims, res)
        }
      })
    }
  }

  /** De-duplicate coordinate labels along `dim` (xarray
    * `drop_duplicates(dim, keep)`): keep the first (or last) occurrence
    * of each label, preserving original order. The kept POSITIONS
    * resolve plan-time from the template coordinate (duplicate labels
    * make a label gather ambiguous, so this goes straight to the
    * position gather `reindexGather`) — one bounded co-partitioned
    * shuffle, each output chunk pulling exactly the slices it keeps.
    * NaN labels count as one label (first/last NaN kept). */
  def dropDuplicates(dim: String, keep: String = "first"): XbeamDataset = {
    require(keep == "first" || keep == "last",
      s"drop_duplicates keep must be 'first' or 'last', got $keep")
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"drop_duplicates needs a coordinate on $dim"))
    val isFloat = coord.dtype == DType.F64
    require(isFloat || coord.dtype == DType.I64 || coord.dtype == DType.TimeNs,
      s"drop_duplicates needs a float64/int64/datetime64 coordinate on " +
        s"$dim, got ${coord.dtype.zarr}")
    val n = template.dimSizes(dim)
    require(n <= Int.MaxValue, s"dim $dim extent $n exceeds a plan-time coordinate")
    // canonical key per label: raw bits, so NaN == NaN; −0.0 folds to
    // +0.0 first (pandas/xarray treat signed zeros as one label)
    val keys: Array[Long] =
      if (isFloat) coord.toDoubles.map(x =>
        java.lang.Double.doubleToLongBits(if (x == 0.0) 0.0 else x))
      else coord.toLongs
    val seen = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    var i = 0
    while (i < n.toInt) {
      val k = keys(i)
      if (keep == "first") { if (!seen.contains(k)) seen(k) = i }
      else seen(k) = i
      i += 1
    }
    val pos = seen.values.toArray.sorted // original order
    val outCoord =
      if (isFloat) {
        val c = coord.toDoubles
        NdArray.fromDoubles(DType.F64, Array(pos.length), pos.map(c))
      } else {
        val c = coord.toLongs
        NdArray.fromLongs(coord.dtype, Array(pos.length), pos.map(c))
      }
    reindexGather(dim, pos, outCoord)
  }

  /** Drop positions along `dim` whose cross-section contains NaN
    * (xarray `dropna(dim, how, thresh)`): `how="any"` keeps a position
    * only if EVERY value across the other dims of every dim-spanning
    * variable is valid, `how="all"` drops only all-NaN positions, and
    * `thresh=n` keeps positions with at least n valid values
    * (overriding `how`, pandas semantics). Unlike the label-driven
    * gathers, the keep-set is DATA-dependent: one narrow validity
    * reduction (per-chunk valid counts — a Long per touched dim
    * position — aggregated on `dim` position; values never move)
    * resolves the kept positions at plan scale, then the same bounded
    * position gather as [[dropDuplicates]] rearranges the data —
    * dtype-preserving, since every kept position resolves. */
  def dropna(dim: String, how: String = "any",
             thresh: Option[Int] = None): XbeamDataset = {
    require(how == "any" || how == "all",
      s"dropna how must be 'any' or 'all', got $how")
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val n = template.dimSizes(dim)
    require(n <= Int.MaxValue, s"dim $dim extent $n exceeds a plan-time keep set")
    // same driver-residency bound as set_index: the validity reduction
    // collects ONE Long per dim position
    val dropnaMaxLen = spark.conf.get("spark.graft.coord.maxLen",
      (1L << 26).toString).toLong
    require(n <= dropnaMaxLen,
      s"dropna: dim $dim has $n positions — beyond " +
        s"spark.graft.coord.maxLen=$dropnaMaxLen for a driver-resident " +
        "keep set (raise it deliberately if the driver can hold it)")
    val d = dim
    val totalPerPos: Long = template.vars.collect {
      case (_, vs) if vs.dims.contains(d) =>
        vs.dims.filterNot(_ == d).map(template.dimSizes(_)).product
    }.sum
    require(totalPerPos > 0, s"dropna($d): no variable spans $d")
    import org.apache.spark.sql.Encoders
    implicit val posEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val perChunk = chunkDataset.flatMap { p: Pair =>
      val (k, c) = p
      val off = k.offsets.getOrElse(d, 0L)
      c.vars.iterator.filter(_._2.dims.contains(d)).flatMap { case (_, va) =>
        val ax = va.dims.indexOf(d)
        val others = Array.range(0, va.arr.ndim).filterNot(_ == ax)
        val counts = va.arr.sumCount(others, skipna = true)._2
        (0 until va.arr.shape(ax)).iterator.map(i =>
          (off + i, counts.getDouble(i).toLong))
      }
    }
    val valid = new Array[Long](n.toInt)
    perChunk.toDF("pos", "v")
      .groupBy("pos").agg(org.apache.spark.sql.functions.sum("v").as("v"))
      .collect() // one Long per dim position — plan-scale, like a coordinate
      .foreach(r => valid(r.getLong(0).toInt) = r.getLong(1))
    val keep: Long => Boolean = thresh match {
      case Some(t) => v => v >= t
      case None if how == "any" => v => v == totalPerPos
      case None => v => v > 0
    }
    val pos = (0 until n.toInt).filter(i => keep(valid(i))).toArray
    require(pos.nonEmpty, s"dropna would drop every $d position")
    val coordOpt = template.coords.get(d).map(_.takeAlong(0, pos))
    reindexGatherOpt(d, pos, coordOpt)
  }

  /** Reorder along `dim` by its coordinate's values (xarray `sortby`):
    * the permutation is plan-time metadata (coords live in the
    * template), so this lowers to [[reindex]]'s label gather — each
    * output chunk pulls exactly the slices it needs, one co-partitioned
    * shuffle, no global sort. */
  def sortby(dim: String, descending: Boolean = false): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"sortby needs a coordinate on $dim"))
    val n = template.dimSizes(dim)
    require(n <= Int.MaxValue, s"dim $dim extent $n exceeds a plan-time permutation")
    // STABLE positional argsort of the plan-time coordinate — unlike a
    // label reindex this tolerates duplicate labels (ties keep source
    // order, numpy kind='stable'), orders NaN labels last (numpy), and
    // rides the dtype-preserving all-resolved gather
    val perm: Array[Int] = coord.dtype match {
      case DType.F64 =>
        val v = coord.toDoubles
        val base = Ordering.by[Int, Double](v)(Ordering.Double.TotalOrdering)
        val sorted = Array.range(0, n.toInt)
          .sorted(if (descending) base.reverse else base)
        // NaN labels sort LAST in both directions (numpy); TotalOrdering
        // put them last ascending but first under the reversed comparator
        val (nan, ok) = sorted.partition(i => v(i).isNaN)
        ok ++ nan
      case DType.I64 | DType.TimeNs =>
        val v = coord.toLongs
        val base = Ordering.by[Int, Long](v)
        Array.range(0, n.toInt).sorted(if (descending) base.reverse else base)
      case other => throw new IllegalArgumentException(
        s"sortby needs a float64/int64/datetime64 coordinate on $dim, " +
          s"got ${other.zarr}")
    }
    reindexGather(dim, perm, coord.takeAlong(0, perm))
  }

  /** Elementwise conveniences (xarray `fillna` / `clip` / `where`) —
    * thin [[mapBlocks]] wrappers; outputs are F64. */
  def fillna(value: Double): XbeamDataset =
    mapBlocks(c => c.mapVars((_, va) =>
      VarArray(va.dims, va.arr.mapF64(v => if (v.isNaN) value else v))))

  def clip(lo: Double, hi: Double): XbeamDataset = {
    require(lo <= hi, s"clip lower bound $lo exceeds upper bound $hi")
    mapBlocks(c => c.mapVars((_, va) =>
      VarArray(va.dims, va.arr.mapF64(v => math.min(math.max(v, lo), hi)))))
  }

  /** Constant-fill companions (xarray `full_like` / `zeros_like` /
    * `ones_like`): same dims, chunking, coords, and variable set, every
    * cell `value` — chunk-local, no shuffle. Dtypes become F64 (pass
    * through [[astype]] to recover integer templates). */
  def fullLike(value: Double): XbeamDataset = mapValues(_ => value)
  def zerosLike: XbeamDataset = fullLike(0.0)
  def onesLike: XbeamDataset = fullLike(1.0)

  /** Cast data variables to new dtypes (xarray/numpy `.astype`):
    * chunk-local elementwise conversion, no shuffle — the op behind
    * "store this f64 pipeline output as f32" (halving bytes at the
    * sink) and "promote packed i16 telemetry before arithmetic".
    * float→int truncates toward zero (NaN → 0, the JVM's saturating
    * cast; numpy leaves NaN→int platform-undefined), int→float rounds
    * past 2^53, any→bool is `!= 0`. The map form casts a subset;
    * unlisted variables pass through untouched. */
  def astype(casts: Map[String, DType]): XbeamDataset = {
    casts.keys.foreach(n => require(template.vars.contains(n),
      s"astype: unknown variable $n " +
        s"(vars: ${template.vars.keys.toSeq.sorted.mkString(",")})"))
    val m = casts
    mapBlocks(c => ArrayChunk(c.vars.map { case (n, va) =>
      n -> (m.get(n) match {
        case Some(dt) => VarArray(va.dims, va.arr.astype(dt))
        case None => va
      })
    }))
  }

  /** [[astype]] of every data variable to one target dtype. */
  def astype(dtype: DType): XbeamDataset =
    astype(template.vars.keys.map(_ -> dtype).toMap)

  /** Keep elements where `cond` holds, else `other` (xarray
    * `where(cond, other)` with an elementwise predicate; default NaN). */
  def where(cond: Double => Boolean,
            other: Double = Double.NaN): XbeamDataset =
    mapBlocks(c => c.mapVars((_, va) =>
      VarArray(va.dims, va.arr.mapF64(v => if (cond(v)) v else other))))

  /** Mask-and-trim (xarray `where(cond, drop=True)`): mask failing
    * cells to NaN, then drop the positions along `dims` (default:
    * every dim) whose whole cross-section went NaN — the composition
    * xarray documents, [[where]] then [[dropna]](how="all") per dim.
    * One narrow mask pass plus one validity reduction + bounded gather
    * per trimmed dim. */
  def whereDrop(cond: Double => Boolean,
                dims: Seq[String] = Seq.empty): XbeamDataset = {
    val target = if (dims.nonEmpty) dims else template.dimOrder
    target.foldLeft(where(cond)) { (ds, d) => ds.dropna(d, how = "all") }
  }

  /** Rename dims and/or variables (xarray `rename`): pure metadata —
    * template, chunk grid, keys, and per-chunk dim labels all relabel;
    * no data moves and no shuffle runs. */
  def rename(mapping: Map[String, String]): XbeamDataset = {
    val known = template.dimSizes.keySet ++ template.vars.keySet
    mapping.keys.foreach(k => require(known(k), s"rename: unknown name $k"))
    mapping.values.foreach(v => require(!known(v) || mapping.contains(v),
      s"rename: target $v already exists"))
    def rn(s: String): String = mapping.getOrElse(s, s)
    val m = mapping
    val newTemplate = Template(
      template.dims.map { case (d, s) => rn(d) -> s },
      template.vars.map { case (n, vs) => rn(n) -> VarSpec(vs.dims.map(rn), vs.dtype) },
      template.coords.map { case (d, c) => rn(d) -> c },
      template.attrs)
    withPlan(newTemplate, chunkSizes.map { case (d, c) => rn(d) -> c },
      splitVars, chunkDataset.map { p: Pair =>
        def rn2(s: String): String = m.getOrElse(s, s)
        (ChunkKey(p._1.offsets.map { case (d, o) => rn2(d) -> o },
          p._1.vars.map(_.map(rn2))),
          ArrayChunk(p._2.vars.map { case (n, va) =>
            rn2(n) -> VarArray(va.dims.map(rn2), va.arr)
          }))
      })
  }

  /** Attach (or replace) a coordinate on an existing dim (xarray
    * `assign_coords`): pure plan-time metadata — chunks never move,
    * the scan/lineage is untouched. The label array must span the dim
    * exactly; every coordinate-consuming op (sortby, sel, reindex,
    * groupbyCoord*, resample) reads it from the template. Pass
    * `coord = None` to drop the coordinate (xarray `reset_index`
    * flavor). */
  def assignCoords(dim: String, coord: Option[NdArray]): XbeamDataset = {
    require(template.dimSizes.contains(dim),
      s"assign_coords: unknown dim $dim (dims: ${template.dimOrder})")
    coord.foreach { c =>
      require(c.ndim == 1 && c.shape(0).toLong == template.dimSizes(dim),
        s"assign_coords: coordinate for dim $dim must be 1-D of length " +
          s"${template.dimSizes(dim)}, got shape ${c.shape.mkString("x")}")
    }
    withPlan(template.copy(coords = coord match {
      case Some(c) => template.coords + (dim -> c)
      case None => template.coords - dim
    }), chunkSizes, splitVars, chunkDataset)
      // a user-assigned coordinate replaces whatever count encoding the
      // calendar tag described
      .withCalendars(calendars - dim)
  }

  def assignCoords(dim: String, coord: NdArray): XbeamDataset =
    assignCoords(dim, Some(coord))

  /** Promote a 1-D data variable to its dim's coordinate (xarray
    * `set_index`): the variable's values gather to the driver in chunk
    * order — bounded by the dim length, exactly like fromZarr's
    * coordinate read (coords are driver-resident template metadata by
    * design) — become the coordinate, and the variable leaves the data
    * vars. Composes with every coordinate consumer: sortby/sel/
    * reindex/groupbyCoord/resample over a COMPUTED key is
    * `derive -> setIndex -> op`. The inverse is
    * `assignCoords(dim, None)` (reset_index). */
  def setIndex(varName: String): XbeamDataset = {
    val vspec = template.vars.getOrElse(varName,
      throw new IllegalArgumentException(
        s"set_index: unknown variable $varName " +
          s"(vars: ${template.vars.keys.toSeq.sorted.mkString(",")})"))
    require(vspec.dims.length == 1,
      s"set_index: $varName spans ${vspec.dims.mkString(",")} — the index " +
        "variable must be 1-D over the dim it indexes")
    val dim = vspec.dims.head
    val n = template.dimSizes(dim)
    val maxLen = spark.conf.get("spark.graft.coord.maxLen",
      (1L << 26).toString).toLong
    require(n <= maxLen,
      s"set_index: dim $dim has $n positions — beyond " +
        s"spark.graft.coord.maxLen=$maxLen for a driver-resident " +
        "coordinate (raise it deliberately if the driver can hold it)")
    // gather the variable's slivers; chunks along OTHER dims carry
    // copies of the 1-D sliver, which must AGREE — a per-chunk-derived
    // key (a mapBlocks computing different values per other-dim chunk)
    // would otherwise set a nondeterministic whichever-arrived-last
    // coordinate. Collect all copies and verify equality per offset.
    implicit val sliverEnc = Encoders.kryo[(Long, VarArray)]
    val dName = dim
    val vName = varName
    val collected = select(Set(varName)).chunkDataset
      .map { p: Pair => (p._1.offsets.getOrElse(dName, 0L), p._2.vars(vName)) }
      .collect()
    val parts = collected.groupBy(_._1).map { case (off, copies) =>
      val first = copies.head._2
      copies.tail.foreach { case (_, other) =>
        require(other.arr.sameAs(first.arr),
          s"set_index: $varName is not constant across chunks of the " +
            s"other dims at $dName offset $off — an index variable must " +
            "hold ONE value per position (reduce it first, e.g. " +
            "groupby/mean over the other dims)")
      }
      off -> first
    }
    val coord = NdArray.zeros(vspec.dtype, Array(n.toInt))
    parts.foreach { case (off, va) =>
      coord.insert(Array(off.toInt), va.arr)
    }
    dropVars(Set(varName)).assignCoords(dim, coord)
  }

  /** Make a 1-D data variable its dim's index AND its name (xarray
    * `swap_dims({dim: varName})`): [[setIndex]] promotes the variable
    * to the dim's coordinate, then the dim relabels to the variable's
    * name — the bounded coordinate gather plus pure metadata, no data
    * shuffle. The old coordinate (if any) is dropped: non-dimension
    * coordinates are outside this model (coords are per-dim template
    * metadata); keep it by copying it to a data variable first. */
  def swapDims(dim: String, varName: String): XbeamDataset = {
    val vspec = template.vars.getOrElse(varName,
      throw new IllegalArgumentException(
        s"swap_dims: unknown variable $varName " +
          s"(vars: ${template.vars.keys.toSeq.sorted.mkString(",")})"))
    require(vspec.dims == Seq(dim),
      s"swap_dims: $varName spans ${vspec.dims.mkString(",")} — it must " +
        s"be 1-D over $dim to become its index")
    setIndex(varName).rename(Map(dim -> varName))
  }

  /** Add a new size-1 leading dim (xarray `expand_dims`): every
    * variable gains a leading axis of extent 1 and every key an offset
    * 0 along it — metadata plus a per-chunk reshape, no shuffle. */
  def expandDims(dim: String): XbeamDataset = {
    require(!template.dimSizes.contains(dim), s"dim $dim already exists")
    val d = dim
    val newTemplate = Template(
      (dim -> 1L) +: template.dims,
      template.vars.map { case (n, vs) => n -> VarSpec(dim +: vs.dims, vs.dtype) },
      template.coords, template.attrs)
    withPlan(newTemplate, chunkSizes + (dim -> 1), splitVars,
      chunkDataset.map { p: Pair =>
        (p._1.copy(offsets = p._1.offsets + (d -> 0L)),
          ArrayChunk(p._2.vars.map { case (n, va) =>
            n -> VarArray(d +: va.dims, NdArray(va.arr.dtype,
              1 +: va.arr.shape, va.arr.data))
          }))
      })
  }

  /** Drop a size-1 dim (xarray `squeeze`): the inverse of
    * [[expandDims]] — metadata plus a per-chunk reshape, no shuffle. */
  def squeeze(dim: String): XbeamDataset = {
    require(template.dimSizes.get(dim).contains(1L),
      s"squeeze: dim $dim is not size 1 (${template.dimSizes.get(dim)})")
    val d = dim
    val newTemplate = Template(
      template.dims.filterNot(_._1 == dim),
      template.vars.map { case (n, vs) =>
        n -> VarSpec(vs.dims.filterNot(_ == dim), vs.dtype)
      },
      template.coords - dim, template.attrs)
    withPlan(newTemplate, chunkSizes - dim, splitVars,
      chunkDataset.map { p: Pair =>
        (p._1.copy(offsets = p._1.offsets - d),
          ArrayChunk(p._2.vars.map { case (n, va) =>
            if (!va.dims.contains(d)) n -> va
            else {
              val ax = va.dims.indexOf(d)
              n -> VarArray(va.dims.filterNot(_ == d), NdArray(va.arr.dtype,
                va.arr.shape.zipWithIndex.collect { case (s, i) if i != ax => s },
                va.arr.data))
            }
          }))
      })
  }

  /** Drop the named variables (xarray `drop_vars`) — [[select]]'s
    * complement, so on a scan it prunes the read the same way. */
  def dropVars(names: Set[String]): XbeamDataset =
    select(template.vars.keySet -- names)

  /** Tile this dataset across the dims `other` has and this one lacks
    * (xarray `broadcast_like` for the missing-dims case): every
    * variable gains the new dims LEADING, in `other`'s dim order, with
    * `other`'s extents, chunk grid, and coordinates; values repeat
    * across the new axes. Purely narrow — each source chunk flatMaps
    * into one buffer-repeated copy per new-dim grid cell, NO shuffle;
    * the leading-axis tile is a straight byte-buffer repeat and the
    * fan-out count is the new dims' chunk-grid size, fixed at plan
    * time (it IS the output's size — no avoidable work). Shared dims
    * must agree in extent; xarray's size-mismatch broadcasting (which
    * it rejects too) stays rejected. */
  def broadcastLike(other: XbeamDataset): XbeamDataset = {
    val newDims = other.template.dims.filter { case (dn, _) =>
      !template.dimSizes.contains(dn) }
    require(newDims.nonEmpty,
      "broadcastLike: other has no dims this dataset lacks")
    template.dimSizes.foreach { case (dn, n) =>
      other.template.dimSizes.get(dn).foreach { m =>
        require(m == n,
          s"broadcastLike: shared dim $dn extent mismatch ($n vs $m)") } }
    val newChunkEntries = newDims.map { case (dn, n) =>
      dn -> other.chunkSizes.getOrElse(dn, n.toInt) }
    // plan-time grid over the new dims: one (dim, offset, extent)
    // combination per output cell along the broadcast axes
    val cells: Seq[Seq[(String, Long, Int)]] = newDims
      .map { case (dn, n) =>
        val cs = other.chunkSizes.getOrElse(dn, n.toInt)
        (0L until n by cs.toLong)
          .map(o => (dn, o, math.min(cs.toLong, n - o).toInt))
      }
      .foldLeft(Seq(Seq.empty[(String, Long, Int)])) { (acc, dimCells) =>
        acc.flatMap(pfx => dimCells.map(pfx :+ _))
      }
    val newDimNames = newDims.map(_._1)
    val newTemplate = Template(
      newDims ++ template.dims,
      template.vars.map { case (n, vs) =>
        n -> VarSpec(newDimNames ++ vs.dims, vs.dtype) },
      template.coords ++
        other.template.coords.filter(kv => newDimNames.contains(kv._1)),
      template.attrs)
    withPlan(newTemplate, chunkSizes ++ newChunkEntries, splitVars,
      chunkDataset.flatMap { p: Pair =>
        cells.map { cell =>
          val k = p._1.copy(offsets =
            p._1.offsets ++ cell.map(c => c._1 -> c._2))
          val reps = cell.map(_._3.toLong).product
          val chunk = ArrayChunk(p._2.vars.map { case (n, va) =>
            val src = va.arr
            val outBytes = src.data.length.toLong * reps
            require(outBytes <= Int.MaxValue,
              s"broadcastLike: tiled chunk for $n exceeds 2 GiB " +
                s"($outBytes bytes) — use smaller chunks on the new dims")
            val out = new Array[Byte](outBytes.toInt)
            var i = 0
            while (i < reps) {
              System.arraycopy(src.data, 0, out,
                i * src.data.length, src.data.length)
              i += 1
            }
            n -> VarArray(newDimNames ++ va.dims,
              NdArray(src.dtype, cell.map(_._3).toArray ++ src.shape, out))
          })
          (k, chunk)
        }
      })
  }

  /** Flatten consecutive dims into one (xarray `stack`, row-major):
    * requires every variable to carry `dims` adjacently in that order
    * and every stacked dim AFTER the first to be single-chunk (full
    * extent) — then a chunk's cells are already contiguous in stacked
    * order, so this is pure metadata + a per-chunk reshape over the
    * same buffers, NO shuffle. (Chunked trailing dims would interleave:
    * rechunk them to full extent first — the same precondition xarray-
    * on-dask effectively pays as a rechunk.) Stacked-dim coords drop. */
  def stack(dims: Seq[String], newDim: String): XbeamDataset = {
    require(dims.length >= 2, s"stack needs at least 2 dims, got $dims")
    dims.foreach(d => require(template.dimSizes.contains(d), s"unknown dim $d"))
    require(!template.dimSizes.contains(newDim) || dims.contains(newDim),
      s"dim $newDim already exists")
    dims.tail.foreach { d =>
      require(chunkSizes(d) >= template.dimSizes(d),
        s"stack: trailing dim $d is chunked (${chunkSizes(d)} < " +
          s"${template.dimSizes(d)}) — cells would interleave; rechunk it " +
          "to full extent first")
    }
    template.vars.foreach { case (n, vs) =>
      val i = vs.dims.indexOfSlice(dims)
      require(i >= 0,
        s"stack: variable $n dims ${vs.dims} do not carry $dims adjacently")
    }
    val tailProd = dims.tail.map(template.dimSizes(_)).product
    val newSize = template.dimSizes(dims.head) * tailProd
    val newChunk = math.min(chunkSizes(dims.head).toLong * tailProd, newSize)
    require(newChunk <= Int.MaxValue, s"stacked chunk $newChunk too large")
    val ds = dims
    val nd = newDim
    val tp = tailProd
    val newTemplate = Template(
      {
        val order = template.dimOrder
        val i = order.indexOf(dims.head)
        (order.take(i) :+ nd) ++ order.drop(i + dims.length) map (d =>
          d -> (if (d == nd) newSize else template.dimSizes(d)))
      },
      template.vars.map { case (n, vs) =>
        val i = vs.dims.indexOfSlice(dims)
        n -> VarSpec((vs.dims.take(i) :+ nd) ++ vs.dims.drop(i + dims.length),
          vs.dtype)
      },
      template.coords -- dims, template.attrs)
    withPlan(newTemplate,
      (chunkSizes -- dims) + (nd -> newChunk.toInt), splitVars,
      chunkDataset.map { p: Pair =>
        val (k, c) = p
        val sOff = k.offsets.getOrElse(ds.head, 0L) * tp
        (k.copy(offsets = (k.offsets -- ds) + (nd -> sOff)),
          ArrayChunk(c.vars.map { case (n, va) =>
            val i = va.dims.indexOfSlice(ds)
            val merged = va.arr.shape.slice(i, i + ds.length).map(_.toLong).product
            val shape2 = (va.arr.shape.take(i) :+ merged.toInt) ++
              va.arr.shape.drop(i + ds.length)
            n -> VarArray((va.dims.take(i) :+ nd) ++ va.dims.drop(i + ds.length),
              NdArray(va.arr.dtype, shape2, va.arr.data))
          }))
      })
  }

  /** Split one dim back into two (xarray `unstack`, [[stack]]'s
    * inverse): `dim` becomes (d1, d2) with |d2| = `innerSize`; the
    * chunk along `dim` must be a multiple of `innerSize` so every
    * chunk splits cleanly — again metadata + reshape, NO shuffle. */
  def unstack(dim: String, d1: String, d2: String,
              innerSize: Long): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(innerSize >= 1 && template.dimSizes(dim) % innerSize == 0,
      s"unstack: inner size $innerSize does not divide ${template.dimSizes(dim)}")
    require(chunkSizes(dim) % innerSize == 0,
      s"unstack: chunk ${chunkSizes(dim)} along $dim is not a multiple of " +
        s"$innerSize — chunks would straddle rows")
    Seq(d1, d2).foreach(d => require(!template.dimSizes.contains(d),
      s"dim $d already exists"))
    val outer = template.dimSizes(dim) / innerSize
    val d = dim
    val inS = innerSize
    val newTemplate = Template(
      template.dims.flatMap { case (dd, s) =>
        if (dd == d) Seq(d1 -> outer, d2 -> inS) else Seq(dd -> s)
      },
      template.vars.map { case (n, vs) =>
        n -> VarSpec(vs.dims.flatMap(dd =>
          if (dd == d) Seq(d1, d2) else Seq(dd)), vs.dtype)
      },
      template.coords - d, template.attrs)
    withPlan(newTemplate,
      (chunkSizes - d) + (d1 -> (chunkSizes(d) / inS).toInt) + (d2 -> inS.toInt),
      splitVars,
      chunkDataset.map { p: Pair =>
        val (k, c) = p
        val sOff = k.offsets.getOrElse(d, 0L)
        (k.copy(offsets = (k.offsets - d) +
          (d1 -> sOff / inS) + (d2 -> 0L)),
          ArrayChunk(c.vars.map { case (n, va) =>
            if (!va.dims.contains(d)) n -> va
            else {
              val ax = va.dims.indexOf(d)
              val ext = va.arr.shape(ax)
              val shape2 = (va.arr.shape.take(ax) ++
                Array((ext / inS).toInt, inS.toInt) ++
                va.arr.shape.drop(ax + 1))
              n -> VarArray(va.dims.flatMap(dd =>
                if (dd == d) Seq(d1, d2) else Seq(dd)),
                NdArray(va.arr.dtype, shape2, va.arr.data))
            }
          }))
      })
  }

  /** Window-view reshape (xarray `coarsen(dim=window, boundary=...)
    * .construct(dim=(outer, inner))`): `dim` splits into
    * (outer, inner = window) where cell (o, i) holds the value at
    * position o·window + i — no reduction and no data duplication
    * (unlike [[rollingConstruct]]'s sliding view, these windows TILE).
    * Boundary semantics follow [[coarsen]]: "exact" requires the
    * window to divide the extent, "trim" drops the ragged tail (the
    * narrow [[truncate]]), "pad" NaN-extends to the next multiple
    * (the constant [[pad]] — float64 widening). The reshape itself is
    * [[unstack]]'s zero-shuffle metadata rewrite; when the chunk along
    * `dim` is not a window multiple the dim rechunks first (windows
    * must not straddle chunks). The dim's coordinate drops (xarray
    * keeps it as a 2-D non-index coordinate, which our 1-D coord model
    * deliberately does not represent — reattach per-axis coordinates
    * with [[assignCoords]]). */
  def coarsenConstruct(dim: String, window: Int, outer: String,
                       inner: String,
                       boundary: String = "exact"): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(window >= 1, s"window must be >= 1, got $window")
    val n = template.dimSizes(dim)
    val base = boundary match {
      case "exact" =>
        require(n % window == 0,
          s"coarsenConstruct: window $window does not divide $dim " +
            s"extent $n (use boundary=\"trim\" or \"pad\")")
        this
      case "trim" =>
        val keep = n / window * window
        require(keep >= window,
          s"dim $dim (size $n) has no complete window of $window")
        if (keep == n) this else truncate(dim, keep)
      case "pad" =>
        val rem = (n % window).toInt
        if (rem == 0) this else pad(dim, 0, window - rem)
      case other => throw new IllegalArgumentException(
        s"unknown boundary $other (exact/trim/pad)")
    }
    val aligned =
      if (base.chunkSizes(dim) % window == 0) base
      else base.rechunk(Map(dim ->
        math.min(base.template.dimSizes(dim),
          math.max(1L, base.chunkSizes(dim).toLong / window) * window).toInt))
    aligned.unstack(dim, outer, inner, window.toLong)
  }

  /** Standardize over `dims` (the z-score normalization step of a
    * feature pipeline): (v − mean) / std per dim-spanning variable.
    * Composes [[anomaly]] with a second broadcast divide — two partial
    * reduction shuffles build mean and std; the full dataset never
    * reshuffles. */
  def zscore(dims: Set[String], skipna: Boolean = true): XbeamDataset = {
    val a = anomaly(dims, skipna)
    val sd = std(dims, skipna)
    val ds = dims
    a.zipReduced(sd)({ (chunk, red) =>
      ArrayChunk(chunk.vars.map { case (n, va) =>
        if (!va.dims.exists(ds)) n -> va
        else {
          val redVa = red.vars(n)
          val otherAxes = redVa.dims.map(va.dims.indexOf).toArray
          n -> VarArray(va.dims,
            va.arr.zipBroadcastF64(redVa.arr, otherAxes)(_ / _))
        }
      })
    }, a.template)
  }

  /** General reductions over dims — the combiners the reference lists
    * as missing (combiners.py:29: "TODO... sum, std, var, min, max").
    * Same distributed shape as [[mean]]: per-chunk partials, one keyed
    * shuffle with map-side combine. Variance/std are population (ddof=0,
    * xarray's default). */
  def sum(dims: Set[String], skipna: Boolean = true): XbeamDataset =
    reduced(dims, "sum", skipna)
  def min(dims: Set[String], skipna: Boolean = true): XbeamDataset =
    reduced(dims, "min", skipna)
  def max(dims: Set[String], skipna: Boolean = true): XbeamDataset =
    reduced(dims, "max", skipna)
  /** Variance / standard deviation over dims. `ddof` is xarray's
    * delta-degrees-of-freedom: divisor `n - ddof` (0 = population,
    * xarray's default; 1 = the pandas/sample convention). Cells with
    * `n <= ddof` yield NaN. */
  /** Count of valid (non-NaN) values over dims (xarray `count`). */
  def count(dims: Set[String]): XbeamDataset =
    reduced(dims, "count", skipna = true)
  /** Product over dims (xarray `prod`; empty/all-NaN cells yield 1,
    * the multiplicative identity, as numpy's nanprod does). */
  def prod(dims: Set[String], skipna: Boolean = true): XbeamDataset =
    reduced(dims, "prod", skipna)
  /** Boolean reductions over dims (xarray `any` / `all`): numpy
    * truthiness (nonzero is true; NaN is true), folded as max/min of
    * the 0/1 mask — per-chunk partials, one keyed shuffle, the same
    * distributed shape as [[sum]]. Output dtype is Bool. */
  def any(dims: Set[String]): XbeamDataset =
    mapValues(v => if (v != 0.0) 1.0 else 0.0)
      .max(dims, skipna = false).astype(DType.Bool)
  def all(dims: Set[String]): XbeamDataset =
    mapValues(v => if (v != 0.0) 1.0 else 0.0)
      .min(dims, skipna = false).astype(DType.Bool)

  def variance(dims: Set[String], skipna: Boolean = true,
               ddof: Int = 0): XbeamDataset = {
    require(ddof >= 0, s"ddof must be >= 0, got $ddof")
    reduced(dims, if (ddof == 0) "var" else s"var:$ddof", skipna)
  }
  def std(dims: Set[String], skipna: Boolean = true,
          ddof: Int = 0): XbeamDataset = {
    require(ddof >= 0, s"ddof must be >= 0, got $ddof")
    reduced(dims, if (ddof == 0) "std" else s"std:$ddof", skipna)
  }

  /** Exact median over dims (the last combiner on the reference's TODO
    * list, combiners.py:29). Unlike the moment-based reductions an exact
    * median needs every value of a cell together, so this consolidates
    * chunks to the full extent of the reduced dims (one shuffle — the
    * rechunk primitive) and runs the sort-and-interpolate kernel per
    * cell. Memory per task is capped at
    * `spark.graft.cellwise.maxBytes` (default 256 MB): kept-dim chunks
    * split automatically until a cell fits, whatever the reduced
    * extent. At 100 TB the approximate-quantile path (relational q18)
    * remains the cheap alternative. */
  def median(dims: Set[String], skipna: Boolean = true): XbeamDataset =
    cellwise(dims, skipna, "median")((arr, axes, sk) => arr.medianAlong(axes, sk))

  /** Exact quantile `q` over dims (xarray `Dataset.quantile`) — same
    * distributed shape and memory bound as [[median]] (which is
    * `quantile(0.5)`). `method` is xarray/numpy's interpolation
    * selector: linear (default) / lower / higher / nearest / midpoint
    * ([[graft.ndarray.NdArray.quantilesAlong]] documents the rank
    * arithmetic). */
  def quantile(q: Double, dims: Set[String], skipna: Boolean = true,
               method: String = "linear"): XbeamDataset =
    cellwise(dims, skipna, "quantile")((arr, axes, sk) =>
      arr.quantileAlong(axes, q, sk, method))

  /** Several quantiles in ONE pass (xarray `quantile(list)`): the cell
    * consolidation and the per-cell sort are paid once, and each q
    * lands as `<var>_q<percent>` (0.25 → `_q25`). */
  def quantiles(qs: Seq[Double], dims: Set[String],
                skipna: Boolean = true,
                method: String = "linear"): XbeamDataset = {
    require(qs.nonEmpty, "quantiles needs at least one q")
    val suffixes = qs.map { q =>
      // round before stripping: BigDecimal of the BINARY double would
      // render q=0.1 as 10.000000000000002 (0.1*100 isn't exact);
      // 6 decimals separates any two qs a user can intend. '.' swaps
      // for 'p' so the variable name stays a plain SQL identifier
      // (0.125 → _q12p5, no backticks needed).
      val pct = BigDecimal(q * 100).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
        .underlying.stripTrailingZeros.toPlainString.replace('.', 'p')
      s"_q$pct"
    }
    require(suffixes.distinct.length == suffixes.length,
      s"duplicate quantiles: $qs")
    template.vars.foreach { case (n, vs) =>
      if (vs.dims.exists(dims)) suffixes.foreach { suf =>
        require(!template.vars.contains(n + suf),
          s"quantiles output ${n + suf} collides with an existing variable")
      }
    }
    cellwiseMulti(dims, skipna, "quantiles", suffixes)((arr, axes, _, sk) =>
      arr.quantilesAlong(axes, qs, sk, method))
  }

  /** Nonlinear per-cell curve fit y = a·exp(b·t) along `dim` (xarray
    * `Dataset.curvefit(coords=t, func=exponential)`'s canonical model;
    * t is the GLOBAL integer index along the dim — rescale the
    * recovered rate plan-side when a physical coordinate step matters).
    * Like the exact order statistics, a nonlinear solver needs each
    * cell's FULL series at once (its normal equations change every
    * iteration — no fixed-size partial exists), so this rides the same
    * one-shuffle cell consolidation and
    * `spark.graft.cellwise.maxBytes` split guard as [[median]]: data
    * moves exactly once, the Levenberg–Marquardt solve
    * ([[graft.ndarray.NdArray.curvefitExpAlong]]) is cell-local and
    * bit-deterministic under any chunking, and each fitted variable
    * lands as `<var>_cf_a` / `<var>_cf_b` over the kept dims (NaN
    * where fewer than 2 valid points determine the lane). */
  def curvefitExp(dim: String, skipna: Boolean = true): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val suffixes = Seq("_cf_a", "_cf_b")
    template.vars.foreach { case (n, vs) =>
      if (vs.dims.contains(dim)) suffixes.foreach { suf =>
        require(!template.vars.contains(n + suf),
          s"curvefit output ${n + suf} collides with an existing variable")
      }
    }
    cellwiseMulti(Set(dim), skipna, "curvefit", suffixes)(
      (arr, axes, _, sk) => arr.curvefitExpAlong(axes.head, sk))
  }

  /** Nonlinear per-cell POWER-LAW fit y = a·(t+1)^b along `dim`
    * (xarray `curvefit` with a power model — the Zipf/frequency-vs-rank
    * fit of corpus analysis; the 1-based index keeps the abscissa
    * positive). Identity a·u^b = a·exp(b·ln u) lowers this to
    * [[curvefitExp]] over the log abscissa: the SAME cell-consolidation
    * shuffle, the SAME Levenberg–Marquardt solver, just a transformed
    * x — so every distributed-shape and determinism property carries
    * over verbatim. Outputs `<var>_cf_a` / `<var>_cf_b` (b = the
    * exponent), NaN for underdetermined lanes. */
  def curvefitPow(dim: String, skipna: Boolean = true): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val suffixes = Seq("_cf_a", "_cf_b")
    template.vars.foreach { case (n, vs) =>
      if (vs.dims.contains(dim)) suffixes.foreach { suf =>
        require(!template.vars.contains(n + suf),
          s"curvefit output ${n + suf} collides with an existing variable")
      }
    }
    cellwiseMulti(Set(dim), skipna, "curvefit", suffixes)(
      (arr, axes, _, sk) =>
        arr.curvefitExpAlong(axes.head, sk, logAbscissa = true))
  }

  /** Nonlinear per-cell LOGISTIC fit y = L/(1+exp(-k·(t-t0))) along
    * `dim` (xarray `curvefit` with the classic sigmoid — saturation /
    * growth-curve series; t is the global integer index). Same
    * distributed shape as [[curvefitExp]]: a 3-parameter iterative
    * solver has no fixed-size partial, so each cell's series
    * consolidates once (the exact-order-statistic shuffle,
    * `cellwise.maxBytes`-guarded) and a bit-deterministic cell-local
    * Levenberg–Marquardt (logit-linear seed,
    * [[graft.ndarray.NdArray.fitLogistic]]) fits each lane. Outputs
    * `<var>_cf_l` (carrying capacity L), `<var>_cf_k` (rate),
    * `<var>_cf_t0` (midpoint); NaN where fewer than 3 valid points —
    * or no positive values — determine the lane. */
  def curvefitLogistic(dim: String, skipna: Boolean = true): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val suffixes = Seq("_cf_l", "_cf_k", "_cf_t0")
    template.vars.foreach { case (n, vs) =>
      if (vs.dims.contains(dim)) suffixes.foreach { suf =>
        require(!template.vars.contains(n + suf),
          s"curvefit output ${n + suf} collides with an existing variable")
      }
    }
    cellwiseMulti(Set(dim), skipna, "curvefit", suffixes)(
      (arr, axes, _, sk) => arr.curvefitLogisticAlong(axes.head, sk))
  }

  /** Nonlinear per-cell GAUSSIAN peak fit y = a·exp(-(t-μ)²/(2σ²))
    * along `dim` (xarray `curvefit` with the spectral/peak model —
    * line fitting, pulse timing; t is the global integer index). Same
    * distributed shape as [[curvefitExp]]/[[curvefitLogistic]]: one
    * cell consolidation, a bit-deterministic cell-local
    * Levenberg–Marquardt seeded by the moment method
    * ([[graft.ndarray.NdArray.fitGaussian]]). Outputs `<var>_cf_a`
    * (amplitude), `<var>_cf_mu` (center), `<var>_cf_sigma` (width,
    * positive by convention — the model is even in σ); NaN where fewer
    * than 3 valid points or no positive values determine the lane. */
  def curvefitGaussian(dim: String, skipna: Boolean = true): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val suffixes = Seq("_cf_a", "_cf_mu", "_cf_sigma")
    template.vars.foreach { case (n, vs) =>
      if (vs.dims.contains(dim)) suffixes.foreach { suf =>
        require(!template.vars.contains(n + suf),
          s"curvefit output ${n + suf} collides with an existing variable")
      }
    }
    cellwiseMulti(Set(dim), skipna, "curvefit", suffixes)(
      (arr, axes, _, sk) => arr.curvefitGaussianAlong(axes.head, sk))
  }

  /** Weighted quantile over `dims` with plan-time per-dim weight
    * vectors (xarray `ds.weighted(w).quantile(q, dim=...)` for 1-D
    * dim weights — latitude area weighting being THE canonical use):
    * the inverted-CDF estimator, the only one numpy defines for
    * weighted quantiles (`np.quantile(..., weights=...,
    * method="inverted_cdf")`) — the smallest value whose cumulative
    * weight reaches q·W. Dims without a weight entry weigh 1
    * everywhere; a position's weight is the product across reduced
    * axes. Same cell-consolidation shape and memory guard as
    * [[quantile]]; under skipna a NaN value drops with its weight. */
  def weightedQuantile(q: Double, dims: Set[String],
                       weights: Map[String, NdArray],
                       skipna: Boolean = true): XbeamDataset = {
    require(q >= 0.0 && q <= 1.0, s"q must be in [0, 1], got $q")
    require(weights.nonEmpty, "weightedQuantile needs at least one weight")
    require(weights.keySet.subsetOf(dims),
      s"weight dims ${weights.keySet} must be reduced dims $dims")
    weights.foreach { case (d, arr) =>
      require(arr.ndim == 1 && arr.shape(0) == template.dimSizes(d),
        s"weight on $d must be 1-D of length ${template.dimSizes(d)}, " +
          s"got ${arr.shape.mkString("x")}")
    }
    // one validated vector per reduced dim (implicit 1s filled in),
    // broadcast ONCE — tasks never re-allocate or re-ship plan
    // constants. bytesPerElem 16: the kernel holds (value, weight)
    // per cell position, so the cellwise split guard budgets 2x.
    val sizes = template.dimSizes
    val all: Map[String, Array[Double]] = dims.iterator.map { d =>
      d -> weights.get(d).map(XbeamDataset.checkedWeights(_, d))
        .getOrElse(Array.fill(sizes(d).toInt)(1.0))
    }.toMap
    val bc = spark.sparkContext.broadcast(all)
    cellwiseMulti(dims, skipna, "weightedQuantile", Seq(""),
      bytesPerElem = 16L)(
      (arr, axes, axDims, sk) => Seq(arr.weightedQuantileAlong(axes, q,
        axDims.map(bc.value).toArray, sk)))
  }

  /** Approximate quantile `q` over dims — the scale-safe sibling of the
    * exact [[quantile]]: instead of consolidating every cell's raw
    * values (the one family that must move data, SURVEY §9), this runs
    * TWO reduction-shaped passes whose shuffled payload per output cell
    * is O(bins), independent of the reduced extent:
    *   1. exact per-cell (min, max) bounds — one keyed shuffle of 2
    *      doubles per cell ([[ChunkTransforms.boundsReduce]]);
    *   2. equi-width integer histograms over those bounds, attached to
    *      chunks via the size-guarded [[zipReduced]] — map-side
    *      combined, one keyed shuffle of `bins` doubles per cell.
    * The estimate places each order statistic uniformly within its bin,
    * so |approx − exact| <= (max − min) / bins per cell, and the sketch
    * is bit-deterministic under ANY partitioning (fixed bin edges,
    * integer counts — unlike merge-order-dependent digests), which is
    * what lets the DuckDB oracle reproduce it exactly (gate x111). The
    * reference has no quantile combiner at all (combiners.py:29's TODO
    * list); at 100 TB this is the quantile a user actually runs first. */
  def approxQuantile(q: Double, dims: Set[String], bins: Int = 256,
                     skipna: Boolean = true): XbeamDataset = {
    require(q >= 0.0 && q <= 1.0, s"q must be in [0, 1], got $q")
    approxQuantileImpl(Seq(q), Seq(""), dims, bins, skipna)
  }

  /** Several approximate quantiles from ONE sketch (the multi-q form,
    * mirroring [[quantiles]]' suffix naming): the bounds pass, the
    * histogram fill, and both shuffles are paid once; each q lands as
    * `<var>_q<percent>` (0.25 → `_q25`). */
  def approxQuantiles(qs: Seq[Double], dims: Set[String], bins: Int = 256,
                      skipna: Boolean = true): XbeamDataset = {
    require(qs.nonEmpty, "approxQuantiles needs at least one q")
    qs.foreach(q =>
      require(q >= 0.0 && q <= 1.0, s"q must be in [0, 1], got $q"))
    val suffixes = qs.map { q =>
      val pct = BigDecimal(q * 100).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
        .underlying.stripTrailingZeros.toPlainString.replace('.', 'p')
      s"_q$pct"
    }
    require(suffixes.distinct.length == suffixes.length,
      s"duplicate quantiles: $qs")
    template.vars.foreach { case (n, vs) =>
      if (vs.dims.exists(dims)) suffixes.foreach { suf =>
        require(!template.vars.contains(n + suf),
          s"approxQuantiles output ${n + suf} collides with an existing variable")
      }
    }
    approxQuantileImpl(qs, suffixes, dims, bins, skipna)
  }

  /** Weight-mass approximate quantile (xarray `weighted(w).quantile(q)`
    * made scale-safe, the cos-latitude-weighted statistic climate users
    * run): the estimate is the value below which a q-fraction of the
    * TOTAL WEIGHT of `weightVar` lies. Same two reduction-shaped passes
    * as [[approxQuantile]] — exact per-cell bounds, then equi-width
    * histograms whose bins accumulate Σweight (one keyed shuffle of
    * `bins` doubles per cell; raw values and weights never move). The
    * weight variable must share each data variable's exact dims and is
    * consumed (dropped from the output); NaN data and NaN/negative
    * weights contribute nothing. With exact-summable (integer-valued)
    * weights the result is bit-deterministic under any partitioning —
    * same contract as the counted sketch (x111). */
  def approxWeightedQuantile(q: Double, dims: Set[String], weightVar: String,
                             bins: Int = 256,
                             skipna: Boolean = true): XbeamDataset = {
    require(q >= 0.0 && q <= 1.0, s"q must be in [0, 1], got $q")
    require(template.vars.contains(weightVar),
      s"unknown weight variable $weightVar (vars: ${template.vars.keySet})")
    require(!splitVars,
      "approxWeightedQuantile needs whole-variable chunks — " +
        "consolidateVariables first")
    require(bins >= 1 && bins <= (1 << 20), s"bins must be in [1, 2^20], got $bins")
    require(dims.subsetOf(template.dimSizes.keySet),
      s"approxWeightedQuantile dims $dims not all in ${template.dimOrder}")
    val keptDims = template.dims.filterNot(d => dims(d._1))
    val touched = template.vars.filter(_._2.dims.exists(dims))
    val boundsTemplate = Template(
      keptDims,
      touched.flatMap { case (n, vs) =>
        val kd = vs.dims.filterNot(dims)
        Seq(s"${n}__lo" -> VarSpec(kd, DType.F64),
          s"${n}__hi" -> VarSpec(kd, DType.F64))
      } ++ template.vars.filterNot(kv => touched.contains(kv._1)),
      template.coords -- dims, template.attrs)
    // two passes over the source — cache the chunk stream (see
    // withCachedChunks) so the upstream runs once
    val src = withCachedChunks
    val bounds = withPlan(boundsTemplate, chunkSizes -- dims, splitVars,
      ChunkTransforms.boundsReduce(src.chunkDataset, dims, skipna))
    val mergedTemplate = template.copy(
      vars = template.vars ++ boundsTemplate.vars)
    val withBounds = src.zipReduced(bounds)(
      (c, r) => ArrayChunk(c.vars ++ r.vars), mergedTemplate)
    val outTemplate = Template(
      keptDims,
      template.vars.flatMap { case (n, vs) =>
        if (n == weightVar) Seq.empty // consumed by the weighting
        else if (vs.dims.exists(dims))
          Seq(n -> VarSpec(vs.dims.filterNot(dims), DType.F64))
        else Seq(n -> vs)
      },
      template.coords -- dims, template.attrs)
    withPlan(outTemplate, chunkSizes -- dims, splitVars,
      ChunkTransforms.weightedHistQuantileReduce(withBounds.chunkDataset,
        dims, q, weightVar, bins))
  }

  private def approxQuantileImpl(qs: Seq[Double], suffixes: Seq[String],
                                 dims: Set[String], bins: Int,
                                 skipna: Boolean): XbeamDataset = {
    require(!splitVars,
      "approxQuantile needs whole-variable chunks (the bounds zip keys " +
        "positions, not (position, variable)) — consolidateVariables first")
    require(bins >= 1 && bins <= (1 << 20),
      s"bins must be in [1, 2^20], got $bins")
    require(dims.subsetOf(template.dimSizes.keySet),
      s"approxQuantile dims $dims not all in ${template.dimOrder}")
    template.vars.keys.foreach { n =>
      require(!template.vars.contains(s"${n}__lo") &&
        !template.vars.contains(s"${n}__hi"),
        s"approxQuantile reserves the __lo/__hi suffixes ($n collides)")
    }
    val keptDims = template.dims.filterNot(d => dims(d._1))
    val touched = template.vars.filter(_._2.dims.exists(dims))
    val boundsTemplate = Template(
      keptDims,
      touched.flatMap { case (n, vs) =>
        val kd = vs.dims.filterNot(dims)
        Seq(s"${n}__lo" -> VarSpec(kd, DType.F64),
          s"${n}__hi" -> VarSpec(kd, DType.F64))
      } ++ template.vars.filterNot(kv => touched.contains(kv._1)),
      template.coords -- dims, template.attrs)
    // two passes over the source (exact bounds, then histogram fill) —
    // cache the chunk stream so the upstream runs once (withCachedChunks)
    val src = withCachedChunks
    val bounds = withPlan(boundsTemplate, chunkSizes -- dims, splitVars,
      ChunkTransforms.boundsReduce(src.chunkDataset, dims, skipna))
    val mergedTemplate = template.copy(
      vars = template.vars ++ boundsTemplate.vars)
    val withBounds = src.zipReduced(bounds)(
      (c, r) => ArrayChunk(c.vars ++ r.vars), mergedTemplate)
    val outTemplate = Template(
      keptDims,
      template.vars.flatMap { case (n, vs) =>
        if (vs.dims.exists(dims))
          suffixes.map(suf =>
            s"$n$suf" -> VarSpec(vs.dims.filterNot(dims), DType.F64))
        else Seq(n -> vs)
      },
      template.coords -- dims, template.attrs)
    withPlan(outTemplate, chunkSizes -- dims, splitVars,
      ChunkTransforms.histQuantilesReduce(withBounds.chunkDataset, dims, qs,
        suffixes, bins))
  }

  /** Average-tie ranks along `dim` (xarray `Dataset.rank(dim)`): each
    * element's 1-based rank among its lane's values, ties sharing the
    * mean of their positional ranks; NaN ranks NaN. Like
    * [[median]]/[[quantile]] this is an order statistic — each lane
    * must assemble once — so it consolidates the full `dim` extent per
    * cell (one shuffle) under the same
    * `spark.graft.cellwise.maxBytes` memory cap (kept chunks split to
    * fit), ranks lane-locally, and splits back to the original chunk
    * grid along `dim` chunk-locally. When the cap engaged, the output
    * keeps the smaller kept-dim chunks (rechunk after if the original
    * grid matters — ranks are full-size data, so consolidating back
    * would re-shuffle everything). Variables not spanning `dim` pass
    * through unchanged. */
  def rank(dim: String, pct: Boolean = false): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(template.dimSizes(dim) <= Int.MaxValue,
      s"rank over dim $dim: extent ${template.dimSizes(dim)} exceeds one chunk")
    import ChunkTransforms.{Pair, pairEnc}
    val d = dim
    val capBytes = spark.conf
      .get("spark.graft.cellwise.maxBytes", (256L << 20).toString).toLong
    val keptDims = template.dimOrder.filterNot(_ == d)
    val laneElems = template.dimSizes(d)
    var keptTarget = keptDims.map(dd => dd -> chunkSizes(dd)).toMap
    def cellBytes: Long =
      keptDims.map(dd => keptTarget(dd).toLong).product * laneElems * 8L
    while (cellBytes > capBytes && keptDims.exists(dd => keptTarget(dd) > 1)) {
      val dMax = keptDims.maxBy(keptTarget)
      keptTarget += dMax -> ((keptTarget(dMax) + 1) / 2)
    }
    val needSplit = keptDims.exists(dd => keptTarget(dd) != chunkSizes(dd))
    val outChunks = keptTarget + (d -> chunkSizes(d))
    val target = outChunks + (d -> template.dimSizes(d).toInt)
    val touchedNames = template.vars.filter(_._2.dims.contains(d)).keySet
    val untouchedNames = template.vars.keySet -- touchedNames
    val spanning = chunkDataset.map { p: Pair =>
      (p._1, ArrayChunk(p._2.vars.filter(kv => touchedNames(kv._1))))
    }.filter { p: Pair => p._2.vars.nonEmpty }
    val pre =
      if (needSplit) ChunkTransforms.splitChunks(spanning, chunkSizes ++ keptTarget)
      else spanning
    val ranked = ChunkTransforms.consolidateChunks(pre, target)
      .map { p: Pair =>
        (p._1, ArrayChunk(p._2.vars.map { case (n, va) =>
          val ax = va.dims.indexOf(d)
          val r = va.arr.rankAlong(ax)
          // pct (xarray rank(dim, pct=True)): rank / lane's VALID count
          // — the lane is whole in this cell, so the count is local;
          // NaN ranks stay NaN through the division
          val out = if (!pct) r else {
            val (_, cnt) = va.arr.sumCount(Array(ax), skipna = true)
            r.zipBroadcastF64(cnt,
              (0 until va.arr.ndim).filter(_ != ax).toArray)(_ / _)
          }
          n -> VarArray(va.dims, out)
        }))
      }
    val back = ChunkTransforms.splitChunks(ranked, outChunks)
    val out =
      if (untouchedNames.isEmpty) back
      else {
        val un = untouchedNames
        val untouched0 = chunkDataset.map { p: Pair =>
          (p._1, ArrayChunk(p._2.vars.filter(kv => un(kv._1))))
        }.filter { p: Pair => p._2.vars.nonEmpty }
        // Align untouched vars to the (possibly capped) kept grid. Two
        // behaviors, decided per SPLIT dim: a var SPANNING a split dim
        // must be re-sliced onto the global output cells — when the
        // source chunk is not a multiple of the target (chunk 5 capped
        // to 3) an output cell like [3,6) straddles two source chunks,
        // so this is a real split→consolidate, not a chunk-local slice;
        // a var NOT spanning a split dim is replicated once per output
        // cell, emitted by the unique source chunk containing the
        // cell's start (no duplicate replicas). Vars spanning the same
        // subset of split dims behave identically → one stream each.
        val kt = keptTarget
        val cs = chunkSizes
        val dimsTotal = template.dimSizes // avoid capturing `this` in closures
        val untouched =
          if (!needSplit) untouched0
          else {
            val splitDims = kt.keys.toSeq.sorted.filter(dd => kt(dd) != cs(dd))
            val spanClass: Map[String, Seq[String]] = untouchedNames.map { n =>
              n -> splitDims.filter(template.vars(n).dims.contains(_))
            }.toMap
            spanClass.values.toSeq.distinct.map { spanned =>
              val names = untouchedNames.filter(n => spanClass(n) == spanned)
              val stream0 = untouched0.map { p: Pair =>
                (p._1, ArrayChunk(p._2.vars.filter(kv => names(kv._1))))
              }.filter { p: Pair => p._2.vars.nonEmpty }
              val repDims = splitDims.filterNot(spanned.contains)
              val replicated =
                if (repDims.isEmpty) stream0
                else stream0.flatMap { p: Pair =>
                  var acc = Seq(p._1)
                  for (dd <- repDims) {
                    val step = kt(dd).toLong
                    acc = acc.flatMap { kk =>
                      val off = kk.offsets.getOrElse(dd, 0L)
                      val extent = math.min(cs(dd).toLong, dimsTotal(dd) - off)
                      // output cells whose start lies in this chunk
                      val first = ((off + step - 1) / step) * step
                      (first until (off + extent) by step).map { s =>
                        kk.copy(offsets = kk.offsets + (dd -> s))
                      }
                    }
                  }
                  acc.map(kk => (kk, p._2))
                }
              if (spanned.isEmpty) replicated
              else ChunkTransforms.consolidateChunks(
                ChunkTransforms.splitChunks(replicated, cs ++ kt), outChunks)
            }.reduce(_.union(_))
          }
        ChunkTransforms.consolidateVariables(
          back.map { p: Pair => (p._1.copy(vars = None), p._2) }
            .union(untouched.map { p: Pair => (p._1.copy(vars = None), p._2) }))
      }
    val newTemplate = template.copy(vars = template.vars.map { case (n, vs) =>
      n -> VarSpec(vs.dims, if (vs.dims.contains(d)) DType.F64 else vs.dtype)
    })
    withPlan(newTemplate, outChunks, splitVars, out)
  }

  /** The shared machinery of the exact order-statistic reductions
    * (median/quantile): consolidate each output cell's full reduced
    * extent together (one shuffle — the rechunk primitive), then run
    * `kernel(arr, reducedAxes, skipna)` per variable. */
  private def cellwise(dims: Set[String], skipna: Boolean, what: String)
                      (kernel: (NdArray, Array[Int], Boolean) => NdArray): XbeamDataset =
    cellwiseMulti(dims, skipna, what, Seq(""))((a, ax, _, sk) =>
      Seq(kernel(a, ax, sk)))

  /** [[cellwise]] with several outputs per variable from ONE cell
    * consolidation: `multiKernel` returns one array per entry of
    * `suffixes`, and each lands as `<var><suffix>` — the
    * multi-quantile path, where the sort is paid once. */
  private def cellwiseMulti(dims: Set[String], skipna: Boolean, what: String,
                            suffixes: Seq[String], bytesPerElem: Long = 8L)
                           (multiKernel: (NdArray, Array[Int], Seq[String], Boolean) => Seq[NdArray]): XbeamDataset = {
    require(dims.subsetOf(template.dimSizes.keySet),
      s"$what dims $dims not all in ${template.dimOrder}")
    dims.foreach { d =>
      require(template.dimSizes(d) <= Int.MaxValue,
        s"$what over dim $d: extent ${template.dimSizes(d)} exceeds one chunk")
    }
    import ChunkTransforms.{Pair, pairEnc}
    import org.apache.spark.sql.Encoders
    val dimsB = dims
    val sk = skipna
    // Memory guard (spark.graft.cellwise.maxBytes, default 256 MB): one
    // consolidated cell holds keptChunk × reducedExtent values per
    // variable, which grows with the reduced extent (an ERA5-shaped
    // 100× store medianed along time would hold ~hundreds of MB per
    // task). Kept chunks whose cells exceed the cap split chunk-locally
    // FIRST (no extra shuffle — the cell consolidation then lands the
    // same bytes in more, smaller tasks; largest kept chunk halves
    // until the cell fits), and the reduced output consolidates back
    // to the original kept grid afterwards — that second shuffle
    // carries data smaller than the input by the reduced extent.
    val capBytes = spark.conf
      .get("spark.graft.cellwise.maxBytes", (256L << 20).toString).toLong
    val keptDims = template.dimOrder.filterNot(dims)
    val reducedElems = dims.toSeq.map(template.dimSizes(_)).product
    var keptTarget = keptDims.map(d => d -> chunkSizes(d)).toMap
    def cellBytes: Long =
      keptDims.map(d => keptTarget(d).toLong).product * reducedElems *
        bytesPerElem
    while (cellBytes > capBytes && keptDims.exists(d => keptTarget(d) > 1)) {
      val dMax = keptDims.maxBy(keptTarget)
      keptTarget += dMax -> ((keptTarget(dMax) + 1) / 2)
    }
    val needSplit = keptDims.exists(d => keptTarget(d) != chunkSizes(d))
    val target = chunkSizes.map { case (d, c) =>
      d -> (if (dims(d)) template.dimSizes(d).toInt else keptTarget(d))
    }
    // Variables spanning none of the reduced dims are replicated into
    // every chunk along those dims by the scan; they bypass the cell
    // consolidation (whose duplicate-block check would reject the
    // replicas) and pass through unchanged, one replica per output key.
    val touchedNames = template.vars.filter(_._2.dims.exists(dims)).keySet
    val untouchedNames = template.vars.keySet -- touchedNames
    val spanning = chunkDataset.map { p: Pair =>
      (p._1, ArrayChunk(p._2.vars.filter(kv => touchedNames(kv._1))))
    }.filter { p: Pair => p._2.vars.nonEmpty }
    val pre =
      if (needSplit) ChunkTransforms.splitChunks(spanning, chunkSizes ++ keptTarget)
      else spanning
    val sufs = suffixes
    val cells = ChunkTransforms.consolidateChunks(pre, target)
      .map { p: Pair =>
        (p._1.copy(offsets = p._1.offsets -- dimsB),
          ArrayChunk(p._2.vars.flatMap { case (n, va) =>
            val axPairs = va.dims.zipWithIndex.collect {
              case (d, i) if dimsB(d) => (d, i)
            }
            val axes = axPairs.map(_._2).toArray
            val keptVarDims = va.dims.filterNot(dimsB)
            sufs.zip(multiKernel(va.arr, axes, axPairs.map(_._1), sk)).map {
              case (suf, arr) => (n + suf) -> VarArray(keptVarDims, arr)
            }
          }))
      }
    val medianed =
      if (needSplit) ChunkTransforms.consolidateChunks(cells,
        keptDims.map(d => d -> chunkSizes(d)).toMap)
      else cells
    val out =
      if (untouchedNames.isEmpty) medianed
      else {
        val un = untouchedNames
        val replicas = chunkDataset.map { p: Pair =>
          (p._1.copy(offsets = p._1.offsets -- dimsB, vars = None),
            ArrayChunk(p._2.vars.filter(kv => un(kv._1))))
        }
          .filter { p: Pair => p._2.vars.nonEmpty }
          .groupByKey(_._1.canonical)(Encoders.STRING)
          .mapGroups { (_, it) => it.next() } // replicas are identical
        ChunkTransforms.consolidateVariables(
          medianed.map { p: Pair => (p._1.copy(vars = None), p._2) }
            .union(replicas))
      }
    val newTemplate = Template(
      template.dims.filterNot(d => dims(d._1)),
      template.vars.flatMap { case (n, vs) =>
        if (!vs.dims.exists(dims)) Seq(n -> vs)
        else suffixes.map(suf =>
          (n + suf) -> VarSpec(vs.dims.filterNot(dims), DType.F64))
      },
      template.coords -- dims, template.attrs)
    withPlan(newTemplate, chunkSizes -- dims, splitVars, out)
  }

  /** Trailing rolling mean along `dim` with cross-chunk halo exchange —
    * the op `map_blocks` cannot express (a window spanning a chunk
    * boundary needs neighbor data). Window semantics are SQL's `ROWS
    * BETWEEN window-1 PRECEDING AND CURRENT ROW` (truncated at the dim
    * start). Built on [[mapWithHalo]]. */
  def rollingMean(dim: String, window: Int): XbeamDataset = {
    require(window >= 2, s"rolling window must be >= 2, got $window")
    mapWithHalo(dim, window - 1) { (joined, ax, skip) =>
      joined.rollingMeanAlong(ax, window, skip)
    }
  }

  /** Shift every dim-spanning variable by `periods` along `dim` (xarray
    * `Dataset.shift`, either sign): out[i] = in[i - periods]; the
    * uncovered end (`periods` leading positions, or trailing for
    * negative periods) fills NaN. Cross-chunk history arrives through
    * the halo exchange — trailing slivers for positive periods, the
    * successor's leading slivers for negative. */
  def shift(dim: String, periods: Int = 1): XbeamDataset = {
    require(periods != 0, "shift periods must be non-zero")
    if (periods >= 1)
      mapWithHalo(dim, periods) { (joined, ax, skip) =>
        joined.shiftAlong(ax, periods, skip)
      }
    else
      // negative periods pull values FORWARD (xarray shift(dim=-k)):
      // the history arrives as the successor's leading sliver through
      // the two-sided halo exchange; the global tail fills NaN
      mapWithHaloBothAt(dim, -periods) { (joined, ax, skipPre, skipPost, _) =>
        joined.leadAlong(ax, -periods, skipPre, skipPost)
      }
  }

  /** Circular shift along `dim` (xarray `roll(shifts,
    * roll_coords=False)`): `out[i] = in[(i - k) mod n]`; coords stay
    * put. Pure key arithmetic: each chunk's data moves to
    * `(offset + k) mod n`, splitting at the wrap seam and then at the
    * chunk grid, and ONE consolidation shuffle reassembles the cells —
    * data crosses the wire once, like any rechunk stage, at any k. */
  def roll(dim: String, shift: Long): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    import ChunkTransforms.{Pair, pairEnc}
    val d = dim
    val n = template.dimSizes(d)
    val k = ((shift % n) + n) % n
    if (k == 0L) return this
    val cs = chunkSizes
    val nn = n
    val shifted = chunkDataset.flatMap { p: Pair =>
      val (key, chunk) = p
      chunk.dimSizes.get(d) match {
        case None => Seq(p) // no var spans the rolled dim
        case Some(ext) =>
          val off = key.offsets.getOrElse(d, 0L)
          val newStart = (off + k) % nn
          val firstLen = math.min(ext.toLong, nn - newStart).toInt
          val pieces =
            if (firstLen >= ext) Seq((newStart, 0, ext))
            else Seq((newStart, 0, firstLen), (0L, firstLen, ext - firstLen))
          pieces.map { case (gStart, lStart, len) =>
            (key.copy(offsets = key.offsets + (d -> gStart)),
              chunk.isel(Map(d -> (lStart, len))))
          }
      }
    }
    val out = ChunkTransforms.consolidateChunks(
      ChunkTransforms.splitChunks(shifted, cs), cs)
    withPlan(template, cs, splitVars, out)
  }

  /** Pad `dim` with `before`/`after` positions (xarray `pad(dim=(b,
    * a), mode=…)`): existing data shifts to `offset + before` by key
    * arithmetic, each lane's head/tail chunk emits its region's pad
    * chunk (no driver enumeration — the edge chunk knows its lane's
    * cross-extents AND, for edge/reflect, holds the source values the
    * pad replicates), and ONE consolidation shuffle realigns
    * everything to the chunk grid, aligned `before` or not. Modes:
    *
    *  - `"constant"` (default): NaN fill (xarray's constant_values
    *    default).
    *  - `"edge"`: the boundary slice repeats.
    *  - `"reflect"`: mirrored without repeating the boundary
    *    (numpy/xarray reflect) — requires the pad width to fit inside
    *    the edge CHUNK (width ≤ edge extent − 1, checked at plan
    *    time), which holds whenever pads are small next to chunks (a
    *    100 TB store's chunks dwarf any sane pad; rechunk first
    *    otherwise).
    *  - `"symmetric"`: mirrored INCLUDING the boundary sample
    *    (numpy/xarray symmetric — width w repeats the first/last w
    *    values reversed); width ≤ edge extent.
    *
    * Vars spanning `dim` come out F64 (constant's fill is NaN); the
    * dim's coordinate is dropped (integer coords cannot hold NaN). */
  def pad(dim: String, before: Int, after: Int,
          mode: String = "constant"): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(before >= 0 && after >= 0,
      s"pad widths must be >= 0, got ($before, $after)")
    require(Set("constant", "edge", "reflect", "symmetric", "wrap")(mode),
      s"unknown pad mode $mode (constant | edge | reflect | symmetric | wrap)")
    if (before == 0 && after == 0) return this
    import ChunkTransforms.{Pair, pairEnc}
    val d = dim
    val n = template.dimSizes(d)
    val cs = chunkSizes
    val b = before.toLong
    val af = after.toLong
    val m = mode
    if (mode == "reflect") {
      // the reflected sample for width w reaches w positions past the
      // boundary: it must live inside the lane's edge chunk
      val chunkLen = cs(d).toLong
      val firstExt = math.min(chunkLen, n)
      val lastExt = n - (n - 1) / chunkLen * chunkLen
      require(b <= firstExt - 1,
        s"pad(reflect) before=$before needs ${b + 1} positions but the " +
          s"first chunk along $d holds $firstExt — rechunk or shrink the pad")
      require(af <= lastExt - 1,
        s"pad(reflect) after=$after needs ${af + 1} positions but the " +
          s"last chunk along $d holds $lastExt — rechunk or shrink the pad")
    }
    if (mode == "symmetric") {
      // the symmetric sample for width w reaches w − 1 positions past
      // the boundary (the boundary itself repeats): width ≤ edge extent
      val chunkLen = cs(d).toLong
      val firstExt = math.min(chunkLen, n)
      val lastExt = n - (n - 1) / chunkLen * chunkLen
      require(b <= firstExt,
        s"pad(symmetric) before=$before exceeds the first chunk's " +
          s"$firstExt positions along $d — rechunk or shrink the pad")
      require(af <= lastExt,
        s"pad(symmetric) after=$after exceeds the last chunk's $lastExt " +
          s"positions along $d — rechunk or shrink the pad")
    }
    if (mode == "wrap") {
      // wrapped samples come from the OPPOSITE end of the lane: the
      // leading pad copies the last chunk's tail, the trailing pad the
      // first chunk's head — each must fit inside that edge chunk
      val chunkLen = cs(d).toLong
      val firstExt = math.min(chunkLen, n)
      val lastExt = n - (n - 1) / chunkLen * chunkLen
      require(b <= lastExt,
        s"pad(wrap) before=$before exceeds the last chunk's $lastExt " +
          s"positions along $d — rechunk or shrink the pad")
      require(af <= firstExt,
        s"pad(wrap) after=$after exceeds the first chunk's $firstExt " +
          s"positions along $d — rechunk or shrink the pad")
    }
    val shifted = chunkDataset.flatMap { p: Pair =>
      val (key, chunk) = p
      chunk.dimSizes.get(d) match {
        case None => Seq(p)
        case Some(ext) =>
          val off = key.offsets.getOrElse(d, 0L)
          // spanning vars → F64 so fill and data agree in the assembly
          val f64 = ArrayChunk(chunk.vars.map { case (nm, va) =>
            if (!va.dims.contains(d)) nm -> va
            else nm -> VarArray(va.dims, va.arr.mapF64(identity))
          })
          val own = Seq(
            (key.copy(offsets = key.offsets + (d -> (off + b))), f64))
          // pad-block source indices into THIS edge chunk, in pad
          // order; None = NaN fill (constant mode)
          def srcIdx(len: Int, leading: Boolean): Option[Array[Int]] = m match {
            case "constant" => None
            case "edge" =>
              Some(Array.fill(len)(if (leading) 0 else ext - 1))
            case "reflect" =>
              // leading: pad position j (0 = farthest out) mirrors
              // arr[b - j]; trailing: j mirrors arr[ext - 2 - j]
              Some(if (leading) Array.tabulate(len)(j => (b - j).toInt)
                else Array.tabulate(len)(j => ext - 2 - j))
            case "symmetric" =>
              // boundary included: leading j mirrors arr[b - 1 - j],
              // trailing j mirrors arr[ext - 1 - j]
              Some(if (leading) Array.tabulate(len)(j => (b - 1 - j).toInt)
                else Array.tabulate(len)(j => ext - 1 - j))
            case "wrap" =>
              // emitted by the OPPOSITE edge chunk: the leading pad's
              // position j copies this (last) chunk's arr[ext - b + j];
              // the trailing pad's j copies this (first) chunk's arr[j]
              Some(if (leading) Array.tabulate(len)(j => (ext - b + j).toInt)
                else Array.tabulate(len)(j => j))
          }
          // non-spanning vars ride along in pad chunks too, keeping
          // every cell's var set homogeneous for the consolidation
          def fill(gStart: Long, len: Long, leading: Boolean): Seq[Pair] =
            if (len == 0) Nil
            else Seq((key.copy(offsets = key.offsets + (d -> gStart)),
              ArrayChunk(f64.vars.map { case (nm, va) =>
                if (!va.dims.contains(d)) nm -> va
                else {
                  val ax = va.dims.indexOf(d)
                  val shape2 = va.arr.shape.clone()
                  shape2(ax) = len.toInt
                  nm -> VarArray(va.dims, srcIdx(len.toInt, leading) match {
                    case None =>
                      NdArray.fill(DType.F64, shape2, Double.NaN)
                    case Some(idxs) =>
                      val out = NdArray.zeros(DType.F64, shape2)
                      val sl = Array.fill(va.arr.ndim)(0)
                      val ll = va.arr.shape.clone()
                      ll(ax) = 1
                      val dst = Array.fill(va.arr.ndim)(0)
                      var j = 0
                      while (j < idxs.length) {
                        sl(ax) = idxs(j)
                        dst(ax) = j
                        out.insert(dst, va.arr.slice(sl, ll))
                        j += 1
                      }
                      out
                  })
                }
              })))
          own ++ (if (m == "wrap") {
            // wrap sources pad blocks from the opposite end of the lane:
            // the LAST chunk emits the leading pad, the FIRST the trailing
            (if (off + ext == n) fill(0L, b, leading = true) else Nil) ++
              (if (off == 0L) fill(n + b, af, leading = false) else Nil)
          } else {
            (if (off == 0L) fill(0L, b, leading = true) else Nil) ++
              (if (off + ext == n) fill(n + b, af, leading = false) else Nil)
          })
      }
    }
    val newTemplate = Template(
      template.dims.map { case (dd, sz) =>
        dd -> (if (dd == d) n + b + af else sz)
      },
      template.vars.map { case (nm, vs) =>
        nm -> VarSpec(vs.dims, if (vs.dims.contains(d)) DType.F64 else vs.dtype)
      },
      template.coords - d, template.attrs)
    withPlan(newTemplate, cs, splitVars,
      ChunkTransforms.consolidateChunks(
        ChunkTransforms.splitChunks(shifted, cs), cs))
  }

  /** Discrete difference along `dim` (extent-preserving xarray-`diff`
    * shape): out[i] = in[i] - in[i-periods]; the first `periods`
    * positions have no history and fill NaN. Cross-chunk history
    * arrives through the same halo exchange as [[shift]]. */
  def diff(dim: String, periods: Int = 1): XbeamDataset = {
    require(periods >= 1, s"diff periods must be >= 1, got $periods")
    mapWithHalo(dim, periods) { (joined, ax, skip) =>
      joined.diffAlong(ax, periods, skip)
    }
  }

  /** Index of the minimum along `dim` (xarray `argmin`): I64 positions
    * into the dim, ties to the lowest index, -1 where a cell has no
    * data. One keyed shuffle of (value, index) partials — data never
    * reshuffles. */
  def argmin(dim: String, skipna: Boolean = true): XbeamDataset =
    argExtremeDim(dim, isMin = true, skipna)

  /** Index of the maximum along `dim` (xarray `argmax`). */
  def argmax(dim: String, skipna: Boolean = true): XbeamDataset =
    argExtremeDim(dim, isMin = false, skipna)

  /** Coordinate value of the minimum along `dim` (xarray `idxmin`):
    * [[argmin]]'s index mapped through the dim's float64 coordinate
    * chunk-locally — the reduction shuffle is argmin's own; the coord
    * is plan-time metadata and broadcasts. NaN where a cell has no
    * data (argmin's -1). */
  def idxmin(dim: String, skipna: Boolean = true): XbeamDataset =
    idxExtremeDim(dim, isMin = true, skipna)

  /** Coordinate value of the maximum along `dim` (xarray `idxmax`). */
  def idxmax(dim: String, skipna: Boolean = true): XbeamDataset =
    idxExtremeDim(dim, isMin = false, skipna)

  private def idxExtremeDim(dim: String, isMin: Boolean,
                            skipna: Boolean): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"idx${if (isMin) "min" else "max"} needs a coordinate on $dim"))
    val touched = template.vars.filter(_._2.dims.contains(dim)).keySet
    val arg = argExtremeDim(dim, isMin, skipna)
    val tn = touched
    val (mapped, outDtype) = coord.dtype match {
      case DType.F64 =>
        val bc = spark.sparkContext.broadcast(coord.toDoubles)
        (arg.mapBlocks { chunk =>
          ArrayChunk(chunk.vars.map { case (n, va) =>
            if (!tn(n)) n -> va
            else n -> VarArray(va.dims, va.arr.mapF64 { i =>
              if (i < 0) Double.NaN else bc.value(i.toInt)
            })
          })
        }, DType.F64)
      case dt @ (DType.I64 | DType.TimeNs) =>
        // datetime/integer index: "when did the extreme occur" keeps
        // the coord's own dtype; an empty cell (argmin's −1) becomes
        // Long.MinValue — the NaT convention (integer arrays can't
        // hold NaN)
        val bc = spark.sparkContext.broadcast(coord.toLongs)
        (arg.mapBlocks { chunk =>
          ArrayChunk(chunk.vars.map { case (n, va) =>
            if (!tn(n)) n -> va
            else {
              val out = NdArray.zeros(dt, va.arr.shape)
              var i = 0L
              while (i < va.arr.size) {
                val p = va.arr.getLong(i)
                out.setLong(i, if (p < 0) Long.MinValue else bc.value(p.toInt))
                i += 1
              }
              n -> VarArray(va.dims, out)
            }
          })
        }, dt)
      case other => throw new IllegalArgumentException(
        s"idx${if (isMin) "min" else "max"} needs a float64/int64/" +
          s"datetime64 coordinate on $dim, got ${other.zarr}")
    }
    // mapBlocks keeps the template; fix the mapped vars' dtype
    val newTemplate = arg.template.copy(vars = arg.template.vars.map {
      case (n, vs) => n -> VarSpec(vs.dims, if (tn(n)) outDtype else vs.dtype)
    })
    XbeamDataset.fromPairs(spark, newTemplate, arg.chunkSizes,
      mapped.chunkDataset, validate = false)
  }

  private def argExtremeDim(dim: String, isMin: Boolean,
                            skipna: Boolean): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val newTemplate = Template(
      template.dims.filterNot(_._1 == dim),
      template.vars.map { case (n, vs) =>
        n -> VarSpec(vs.dims.filterNot(_ == dim),
          if (vs.dims.contains(dim)) DType.I64 else vs.dtype)
      },
      template.coords - dim, template.attrs)
    withPlan(newTemplate, chunkSizes - dim, splitVars,
      ChunkTransforms.argReduce(chunkDataset, dim, isMin, skipna))
  }

  /** Concatenate `other` after this dataset along `dim` (xarray
    * `concat`): the appended dataset's keys shift by this dataset's
    * extent and the chunk collections union — NO shuffle; at any scale
    * this is pure key arithmetic. Requires identical dim sets, equal
    * sizes off the concat dim, identical variable schemas and chunk
    * grids, and this dataset's extent to be a whole multiple of the
    * chunk along `dim` (so shifted chunks land on the shared grid —
    * the same alignment rule as the Zarr append workflow). */
  def concat(other: XbeamDataset, dim: String): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(other.template.dimSizes.keySet == template.dimSizes.keySet,
      s"concat requires identical dim sets: ${template.dimOrder} vs " +
        s"${other.template.dimOrder}")
    template.dimOrder.filterNot(_ == dim).foreach { d =>
      require(other.template.dimSizes(d) == template.dimSizes(d),
        s"dim $d has size ${other.template.dimSizes(d)} on the appended " +
          s"dataset but ${template.dimSizes(d)} here")
    }
    require(other.template.vars == template.vars,
      s"concat requires identical variable schemas: ${template.vars} vs " +
        s"${other.template.vars}")
    template.dimOrder.foreach { d =>
      // compare EFFECTIVE chunks (nominal clamps to the extent): along
      // the concat dim a shorter-than-one-chunk appendee is fine — its
      // whole extent becomes the final (ragged) chunk of the result
      val otherEff = math.min(other.chunkSizes(d).toLong, other.template.dimSizes(d))
      val expected =
        if (d == dim) math.min(chunkSizes(d).toLong, other.template.dimSizes(d))
        else math.min(chunkSizes(d).toLong, template.dimSizes(d))
      require(otherEff == expected,
        s"concat requires matching chunk grids: dim $d has effective chunk " +
          s"$otherEff on the appended dataset, expected $expected")
    }
    val n1 = template.dimSizes(dim)
    require(n1 % chunkSizes(dim) == 0,
      s"extent $n1 along $dim is not a multiple of chunk ${chunkSizes(dim)} " +
        "— shifted chunks would straddle the grid (rechunk first)")
    val d = dim
    val shifted = other.chunkDataset.map { p: Pair =>
      (p._1.copy(offsets =
        p._1.offsets + (d -> (p._1.offsets.getOrElse(d, 0L) + n1))), p._2)
    }
    // dim coordinate: concatenate when both sides carry one, else drop
    val newCoord: Map[String, NdArray] =
      (template.coords.get(dim), other.template.coords.get(dim)) match {
        case (Some(a), Some(b)) if a.dtype == b.dtype =>
          Map(dim -> NdArray(a.dtype, Array(a.shape(0) + b.shape(0)),
            a.data ++ b.data))
        case _ => Map.empty
      }
    val newTemplate = template.copy(
      dims = template.dims.map { case (dd, s) =>
        dd -> (if (dd == dim) s + other.template.dimSizes(dim) else s)
      },
      coords = (template.coords - dim) ++ newCoord)
    withPlan(newTemplate, chunkSizes, splitVars, chunkDataset.union(shifted))
  }

  /** Zip with a REDUCED dataset — dims a subset of this dataset's,
    * typically one of its own reductions (a climatology, a per-lane
    * mean): every chunk pairs with the one reduced chunk covering its
    * position and `f(chunk, reducedChunk)` runs per chunk.
    *
    * SIZE-GUARDED: the reduced side's exact nbytes is known at plan
    * time from its template. Below
    * `spark.graft.zipReduced.broadcastBytes` (default 512 MB) it
    * collects and broadcasts — the full dataset never reshuffles (at
    * 100 TB a time-mean over ~350k steps is ~300 MB: this path).
    * Above the threshold it automatically falls back to a
    * co-partitioned join on the shared-dim offsets key: both sides
    * shuffle on the key, one reduced chunk streams against its many
    * covering chunks, and nothing touches the driver. */
  def zipReduced(reduced: XbeamDataset)(f: (ArrayChunk, ArrayChunk) => ArrayChunk,
                                        merged: Template): XbeamDataset =
    zipReducedKeyed(reduced)((_, c, r) => f(c, r), merged)

  /** [[zipReduced]] with the full chunk's key in the combiner — for
    * zips whose math needs the global position (detrend evaluates its
    * polynomial at the global index). Dims of `reduced` ABSENT from
    * this dataset (polyfit's `degree`) are carried, not matched: the
    * reduced side must hold one chunk per shared position. */
  def zipReducedKeyed(reduced: XbeamDataset)(
      f: (ChunkKey, ArrayChunk, ArrayChunk) => ArrayChunk,
      merged: Template): XbeamDataset = {
    val shared = reduced.template.dimSizes.keySet
      .intersect(template.dimSizes.keySet)
    shared.foreach { d =>
      require(reduced.template.dimSizes(d) == template.dimSizes(d),
        s"dim $d: reduced size ${reduced.template.dimSizes(d)} != ${template.dimSizes(d)}")
      require(reduced.chunkSizes(d) == chunkSizes(d),
        s"dim $d: reduced chunk ${reduced.chunkSizes(d)} != ${chunkSizes(d)} " +
          "(rechunk the reduced side to match)")
    }
    val sh = shared
    val sharedKeyOf = (k: ChunkKey) =>
      ChunkKey(k.offsets.filter(kv => sh(kv._1)), None).canonical
    val threshold = spark.conf
      .get("spark.graft.zipReduced.broadcastBytes", (512L << 20).toString).toLong
    if (reduced.template.nbytes <= threshold) {
      val reducedMap: Map[String, ArrayChunk] = reduced.chunkDataset.collect()
        .map { case (k, c) => sharedKeyOf(k) -> c }.toMap
      val bc = spark.sparkContext.broadcast(reducedMap)
      withPlan(merged, chunkSizes, splitVars, chunkDataset.map { p: Pair =>
        val rk = sharedKeyOf(p._1)
        val rc = bc.value.getOrElse(rk, throw new IllegalStateException(
          s"no reduced chunk covers position $rk"))
        (p._1, f(p._1, p._2, rc))
      })
    } else {
      implicit val keyedEnc: org.apache.spark.sql.Encoder[(String, Pair)] =
        Encoders.tuple(Encoders.STRING, pairEnc)
      val fullKeyed = chunkDataset.map { p: Pair => (sharedKeyOf(p._1), p) }
      val redKeyed = reduced.chunkDataset.map { p: Pair => (sharedKeyOf(p._1), p) }
      // left_outer so a missing reduced chunk is a loud error (the
      // broadcast path's contract), not a silently dropped chunk
      val joined = fullKeyed
        .joinWith(redKeyed, fullKeyed("_1") === redKeyed("_1"), "left_outer")
      withPlan(merged, chunkSizes, splitVars,
        joined.map { t: ((String, Pair), (String, Pair)) =>
          val ((rk, p), right) = t
          if (right == null) throw new IllegalStateException(
            s"no reduced chunk covers position $rk")
          (p._1, f(p._1, p._2, right._2._2))
        })
    }
  }

  /** Anomaly vs the mean over `dims`: v − mean_dims(v) per dim-spanning
    * variable — the canonical climate-pipeline step (subtracting an
    * ERA5-style climatology). One reduction shuffle builds the mean,
    * then a broadcast map subtracts it; the full dataset never
    * reshuffles. */
  def anomaly(dims: Set[String], skipna: Boolean = true): XbeamDataset = {
    val m = mean(dims, skipna)
    val merged = template.copy(vars = template.vars.map { case (n, vs) =>
      n -> VarSpec(vs.dims, if (vs.dims.exists(dims)) DType.F64 else vs.dtype)
    })
    val ds = dims
    zipReduced(m)({ (chunk, red) =>
      ArrayChunk(chunk.vars.map { case (n, va) =>
        if (!va.dims.exists(ds)) n -> va
        else {
          val redVa = red.vars(n)
          val otherAxes = redVa.dims.map(va.dims.indexOf).toArray
          n -> VarArray(va.dims,
            va.arr.zipBroadcastF64(redVa.arr, otherAxes)(_ - _))
        }
      })
    }, merged)
  }

  /** Block-aggregate downsample (xarray `coarsen().mean()/.sum()`):
    * each factor must divide both its chunk and its dim size, which
    * makes every block chunk-LOCAL — zero shuffle, keys divide by the
    * factor. (The divisibility also covers ragged last chunks: offsets
    * are chunk multiples and the total divides, so every chunk extent
    * is a factor multiple.) */
  /** Truncate `dim` to its first `newSize` positions — a NARROW,
    * shuffle-free restriction that works on ANY dataset (unlike
    * [[head]], which is a scan-region rewrite): chunks entirely past
    * the bound drop, the one boundary chunk slices, every other chunk
    * passes through untouched. Keys and chunk grid are unchanged. */
  def truncate(dim: String, newSize: Long): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val size = template.dimSizes(dim)
    require(newSize >= 1 && newSize <= size,
      s"truncate($dim, $newSize) out of range for size $size")
    if (newSize == size) this
    else {
      val d = dim
      val ns = newSize
      val newTemplate = template.copy(
        dims = template.dims.map { case (dd, sz) =>
          dd -> (if (dd == d) ns else sz)
        },
        coords = template.coords.map { case (dd, c) =>
          if (dd == d) dd -> c.slice(Array(0), Array(ns.toInt)) else dd -> c
        })
      val out = chunkDataset.flatMap { p: Pair =>
        val (k, c) = p
        val off = k.offsets.getOrElse(d, 0L)
        val ext = c.dimSizes.getOrElse(d, 0)
        if (ext == 0) Iterator.single(p)
        else if (off >= ns) Iterator.empty
        else if (off + ext <= ns) Iterator.single(p)
        else Iterator.single((k, c.isel(Map(d -> (0, (ns - off).toInt)))))
      }
      withPlan(newTemplate, chunkSizes, splitVars, out)
    }
  }

  def coarsen(factors: Map[String, Int], op: String = "mean",
              skipna: Boolean = true, boundary: String = "exact"): XbeamDataset = {
    boundary match {
      case "exact" =>
      case "trim" =>
        // xarray coarsen(boundary="trim"): drop the ragged tail first,
        // then coarsen exactly — the trim itself is the narrow
        // [[truncate]], so this adds no shuffle
        val trimmed = factors.foldLeft(this) { case (ds, (d, f)) =>
          require(ds.template.dimSizes.contains(d), s"unknown dim $d")
          require(f >= 1, s"coarsen factor for $d must be >= 1, got $f")
          val sz = ds.template.dimSizes(d)
          val keep = sz / f * f
          require(keep >= f, s"dim $d (size $sz) has no complete window of $f")
          if (keep == sz) ds else ds.truncate(d, keep)
        }
        return trimmed.coarsen(factors, op, skipna, "exact")
      case "pad" =>
        // xarray coarsen(boundary="pad"): NaN-extend the ragged tail to
        // the next window multiple, then coarsen with the reduction's
        // own skipna — the tail window reduces over the values actually
        // present. The pad is the existing constant-NaN pad (one
        // consolidation realign when the tail crosses a chunk).
        require(skipna, "coarsen(boundary=\"pad\") needs skipna=true — " +
          "the NaN filler must be skipped, or every tail window is NaN")
        val padded = factors.foldLeft(this) { case (ds, (d, f)) =>
          require(ds.template.dimSizes.contains(d), s"unknown dim $d")
          require(f >= 1, s"coarsen factor for $d must be >= 1, got $f")
          val rem = (ds.template.dimSizes(d) % f).toInt
          if (rem == 0) ds else ds.pad(d, 0, f - rem)
        }
        return padded.coarsen(factors, op, skipna, "exact")
      case other => throw new IllegalArgumentException(
        s"unknown coarsen boundary $other (exact/trim/pad)")
    }
    factors.foreach { case (d, f) =>
      require(template.dimSizes.contains(d), s"unknown dim $d")
      require(f >= 1, s"coarsen factor for $d must be >= 1, got $f")
      require(chunkSizes(d) % f == 0,
        s"coarsen factor $f does not divide chunk ${chunkSizes(d)} of dim $d")
      require(template.dimSizes(d) % f == 0,
        s"coarsen factor $f does not divide size ${template.dimSizes(d)} of dim $d " +
          "(use boundary=\"trim\" to drop the ragged tail)")
    }
    def factorOf(d: String): Int = factors.getOrElse(d, 1)
    val newTemplate = Template(
      template.dims.map { case (d, s) => d -> s / factorOf(d) },
      template.vars.map { case (n, vs) =>
        n -> VarSpec(vs.dims,
          if (vs.dims.exists(d => factorOf(d) > 1)) DType.F64 else vs.dtype)
      },
      template.coords.filter(kv => factorOf(kv._1) == 1), template.attrs)
    val newChunks = chunkSizes.map { case (d, c) => d -> c / factorOf(d) }
    val fs = factors
    val o = op
    val sk = skipna
    withPlan(newTemplate, newChunks, splitVars, chunkDataset.map { p: Pair =>
      val nk = p._1.copy(offsets = p._1.offsets.map { case (d, off) =>
        d -> off / fs.getOrElse(d, 1)
      })
      (nk, p._2.mapVars { (_, va) =>
        val fArr = va.dims.map(d => fs.getOrElse(d, 1)).toArray
        if (fArr.forall(_ == 1)) va
        else VarArray(va.dims, va.arr.coarsen(fArr, o, sk))
      })
    })
  }

  /** Cumulative sum along `dim` — the distributed prefix-scan pattern
    * (vs. [[mapWithHalo]]'s fixed-neighbor exchange): each chunk
    * reduces to a per-lane sliver (its lane totals), the slivers fold
    * left in dim order into each chunk's exclusive prefix, and the
    * prefix seeds the chunk's own running sum. [[laneScan]] picks
    * where the fold runs (in one lane-sorted shuffle, or on the driver
    * with broadcast seeds); both routes fold in the same order, so the
    * output bits do not depend on the route. Variables not spanning
    * `dim` pass through unchanged. */
  def cumsum(dim: String): XbeamDataset =
    prefixScanAlong(dim)(
      (arr, ax) => arr.sumCount(Array(ax), skipna = false)._1,
      laneShape => NdArray.zeros(DType.F64, laneShape),
      (acc, sliver) => acc.zipF64(sliver)(_ + _),
      (arr, ax, seed) => arr.cumsumAlong(ax, seed))

  /** Running product along `dim` (xarray `cumprod`): [[cumsum]] with
    * the multiplicative monoid — the sliver is each chunk's per-lane
    * product (the last slice of its local running product), seeds
    * default to 1. NaN poisons. */
  def cumprod(dim: String): XbeamDataset =
    prefixScanAlong(dim)(
      (arr, ax) => {
        val cp = arr.cumprodAlong(ax, None)
        val starts = Array.fill(arr.ndim)(0)
        starts(ax) = arr.shape(ax) - 1
        val lens = arr.shape.clone()
        lens(ax) = 1
        NdArray(DType.F64, arr.shape.patch(ax, Nil, 1),
          cp.slice(starts, lens).data)
      },
      laneShape => NdArray.fill(DType.F64, laneShape, 1.0),
      (acc, sliver) => acc.zipF64(sliver)(_ * _),
      (arr, ax, seed) => arr.cumprodAlong(ax, seed))

  /** Elementwise map over every data variable in float64 —
    * [[mapBlocks]] sugar (what [[where]]/[[clip]]/[[fillna]] are). */
  def mapValues(f: Double => Double): XbeamDataset =
    mapBlocks(c => c.mapVars { (_, va) => VarArray(va.dims, va.arr.mapF64(f)) })

  /** Forward-fill NaNs along `dim` (xarray `ffill`): each position
    * takes the most recent non-NaN value; positions before the first
    * one stay NaN. Same distributed shape as [[cumsum]] with the scan
    * monoid swapped: slivers carry each chunk's LAST non-NaN value per
    * lane and combine by overwrite-if-present. */
  def ffill(dim: String): XbeamDataset =
    prefixScanAlong(dim)(
      (arr, ax) => arr.lastValidAlong(ax),
      laneShape => NdArray.fill(DType.F64, laneShape, Double.NaN),
      (acc, sliver) => acc.zipF64(sliver)((a, s) => if (s.isNaN) a else s),
      (arr, ax, seed) => arr.ffillAlong(ax, seed))

  /** [[ffill]] with a gap limit (xarray `ffill(dim, limit=n)`): fill
    * only reaches `limit` positions past the source value — the
    * bounded-staleness fill an observational pipeline wants. The scan
    * slivers carry (value, global index) pairs (the interpolateNa
    * stacked form) so each chunk can measure the gap locally. */
  def ffill(dim: String, limit: Int): XbeamDataset =
    limitFill(dim, limit, reverse = false)

  /** [[bfill]] with a gap limit (xarray `bfill(dim, limit=n)`) —
    * [[ffill(dim:String,limit:Int)*]] mirrored through the reverse
    * scan. */
  def bfill(dim: String, limit: Int): XbeamDataset =
    limitFill(dim, limit, reverse = true)

  private def limitFill(dim: String, limit: Int,
                        reverse: Boolean): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(limit >= 1, s"fill limit must be >= 1, got $limit")
    val d = dim
    val lim = limit
    val rev = reverse
    val joined = laneScan(d, rev, stackK = 2)(
      edgeSlivers(d, last = !rev),
      shape => NdArray.fill(DType.F64, shape, Double.NaN),
      XbeamDataset.overwritePair,
      (k, c, seeds) => {
        val off = k.offsets.getOrElse(d, 0L)
        ArrayChunk(c.vars.map { case (n, va) =>
          if (!va.dims.contains(d)) n -> va
          else {
            val ax = va.dims.indexOf(d)
            n -> VarArray(va.dims,
              if (rev) va.arr.bfillLimitAlong(ax, off, lim, seeds.get(n))
              else va.arr.ffillLimitAlong(ax, off, lim, seeds.get(n)))
          }
        })
      })
    val newTemplate = template.copy(vars = template.vars.map { case (n, vs) =>
      n -> VarSpec(vs.dims, if (vs.dims.contains(dim)) DType.F64 else vs.dtype)
    })
    withPlan(newTemplate, chunkSizes, splitVars, joined)
  }

  /** Backward-fill NaNs along `dim` (xarray `bfill`) — [[ffill]]
    * mirrored: the scan runs in REVERSE dim order, slivers carry each
    * chunk's FIRST non-NaN per lane, and the nearest succeeding chunk
    * wins the combine. */
  def bfill(dim: String): XbeamDataset =
    prefixScanAlong(dim, reverse = true)(
      (arr, ax) => arr.firstValidAlong(ax),
      laneShape => NdArray.fill(DType.F64, laneShape, Double.NaN),
      (acc, sliver) => acc.zipF64(sliver)((a, s) => if (s.isNaN) a else s),
      (arr, ax, seed) => arr.bfillAlong(ax, seed))

  /** Running maximum along `dim` (xarray `cummax`): same prefix scan
    * with max as the monoid; NaN propagates from its first occurrence
    * (matching [[cumsum]]'s plain-running semantics). */
  def cummax(dim: String): XbeamDataset =
    prefixScanAlong(dim)(
      (arr, ax) => arr.extreme(Array(ax), skipna = false, isMin = false),
      laneShape => NdArray.fill(DType.F64, laneShape, Double.NegativeInfinity),
      (acc, sliver) => acc.zipF64(sliver)((a, b) =>
        if (a.isNaN || b.isNaN) Double.NaN else math.max(a, b)),
      (arr, ax, seed) => arr.cumExtremeAlong(ax, isMin = false, seed))

  /** Running minimum along `dim` (xarray `cummin`). */
  def cummin(dim: String): XbeamDataset =
    prefixScanAlong(dim)(
      (arr, ax) => arr.extreme(Array(ax), skipna = false, isMin = true),
      laneShape => NdArray.fill(DType.F64, laneShape, Double.PositiveInfinity),
      (acc, sliver) => acc.zipF64(sliver)((a, b) =>
        if (a.isNaN || b.isNaN) Double.NaN else math.min(a, b)),
      (arr, ax, seed) => arr.cumExtremeAlong(ax, isMin = true, seed))

  /** Exponentially-weighted moving mean along `dim` (xarray
    * `rolling_exp().mean()` / pandas `ewm(adjust=False).mean()`):
    * `y_0 = x_0`, then `y_t = (1-α)·y_{t-1} + α·x_t`. The recurrence
    * is linear, so a chunk acts on its incoming state as the affine
    * map `y_out = (1-α)^n · y_in + b` — slivers carry that (a, b)
    * pair per lane, stacked `[2] ++ laneShape`, and affine COMPOSITION
    * is the (associative) scan monoid: one sliver-sized shuffle, chunk
    * bodies never move twice. Plane `a` is always a constant per chunk
    * (β^n, or 0 for the lane head, whose output ignores any seed), so
    * a = -1 marks the scan identity without colliding with data NaNs,
    * which live only in plane `b`. For dyadic α (0.5, 0.25, …) over
    * integer-valued data every step is exact — the property the
    * oracle gate leans on. */
  def ewm(dim: String, alpha: Double): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val d = dim
    val al = alpha
    val beta = 1.0 - alpha
    def stack2(a: NdArray, b: NdArray): NdArray =
      NdArray(DType.F64, Array(2) ++ a.shape, a.data ++ b.data)
    // last slice along `ax` of a chunk-shaped F64 array, as a lane array
    def lastLane(arr: NdArray, ax: Int): NdArray = {
      val starts = Array.fill(arr.ndim)(0)
      starts(ax) = arr.shape(ax) - 1
      val lens = arr.shape.clone()
      lens(ax) = 1
      val sl = arr.slice(starts, lens)
      NdArray(DType.F64, arr.shape.patch(ax, Nil, 1), sl.data)
    }
    // per-chunk affine: lane heads emit (0, y_end) — their output is
    // seed-independent; interior chunks emit (β^n, y_end-from-zero)
    val sliverVars: (ChunkKey, ArrayChunk) => Map[String, VarArray] =
      (k, c) => c.vars.collect {
        case (n, va) if va.dims.contains(d) =>
          val ax = va.dims.indexOf(d)
          val lane = va.arr.shape.patch(ax, Nil, 1)
          val first = k.offsets.getOrElse(d, 0L) == 0L
          // β^n by repeated multiplication: exact for dyadic β, where
          // Math.pow is only 1-ulp-accurate — this constant sits on
          // the gate's bit-exactness path
          var betaN = 1.0
          locally {
            var i = 0
            while (i < va.arr.shape(ax)) { betaN *= beta; i += 1 }
          }
          val (aPlane, bSeed) =
            if (first) (NdArray.fill(DType.F64, lane, 0.0), None)
            else (NdArray.fill(DType.F64, lane, betaN),
              Some(NdArray.fill(DType.F64, lane, 0.0)))
          val b = lastLane(va.arr.ewmAlong(ax, al, bSeed), ax)
          n -> VarArray("__s" +: va.dims.filterNot(_ == d),
            stack2(aPlane, b))
      }
    val init: Array[Int] => NdArray = stackedShape =>
      NdArray.fill(DType.F64, stackedShape, -1.0) // scan identity marker
    val combine: (NdArray, NdArray) => NdArray = (acc, sliver) => {
      val out = NdArray.zeros(DType.F64, acc.shape.clone())
      val half = acc.size / 2
      var i = 0L
      while (i < half) {
        val a1 = acc.getDouble(i); val b1 = acc.getDouble(half + i)
        val a2 = sliver.getDouble(i); val b2 = sliver.getDouble(half + i)
        // the marker is a left identity: the scan folds slivers onto
        // it in order, and a sliver's plane `a` is never -1
        if (a1 == -1.0) { out.setDouble(i, a2); out.setDouble(half + i, b2) }
        else {
          out.setDouble(i, a1 * a2)
          out.setDouble(half + i, a2 * b1 + b2)
        }
        i += 1
      }
      out
    }
    def applyChunk(c: ArrayChunk, seeds: Map[String, NdArray]): ArrayChunk =
      ArrayChunk(c.vars.map { case (n, va) =>
        if (!va.dims.contains(d)) n -> va
        else {
          val ax = va.dims.indexOf(d)
          val seed = seeds.get(n).filter(_.getDouble(0L) != -1.0).map { s =>
            val lane = s.shape.drop(1)
            val half = s.data.length / 2
            NdArray(DType.F64, lane,
              java.util.Arrays.copyOfRange(s.data, half, s.data.length))
          }
          n -> VarArray(va.dims, va.arr.ewmAlong(ax, al, seed))
        }
      })
    val out = laneScan(d, reverse = false, stackK = 2)(
      sliverVars, init, combine, (_, c, seeds) => applyChunk(c, seeds))
    val newTemplate = template.copy(vars = template.vars.map { case (n, vs) =>
      n -> VarSpec(vs.dims, if (vs.dims.contains(d)) DType.F64 else vs.dtype)
    })
    withPlan(newTemplate, chunkSizes, splitVars, out)
  }

  /** Exponentially-weighted moving variance along `dim` (the biased /
    * `bias=True` convention: Var_t = M2_t − M1_t² over the same
    * recursive unadjusted weights as [[ewm]]): the squared companion
    * of every dim-spanning variable is derived in a narrow pass, BOTH
    * moments ride ONE scan (the ewm machinery sees twice the vars, not
    * twice the shuffles), and the subtraction folds per cell. The
    * first position is exactly 0 (M2₀ = x₀², M1₀ = x₀). Variables not
    * spanning `dim` pass through untouched. */
  def ewmVar(dim: String, alpha: Double): XbeamDataset =
    ewmSecond(dim, alpha, std = false)

  /** √[[ewmVar]] — the exponentially-weighted moving standard
    * deviation (biased convention). */
  def ewmStd(dim: String, alpha: Double): XbeamDataset =
    ewmSecond(dim, alpha, std = true)

  private def ewmSecond(dim: String, alpha: Double,
                        std: Boolean): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val d = dim
    val touched = template.vars.collect {
      case (n, vs) if vs.dims.contains(d) => n
    }.toSet
    val withSq = mapBlocks { c =>
      ArrayChunk(c.vars.flatMap { case (n, va) =>
        if (!touched(n)) Seq(n -> va)
        else Seq(n -> va,
          s"__sq__$n" -> VarArray(va.dims, va.arr.mapF64(v => v * v)))
      })
    }
    val moments = withSq.ewm(d, alpha)
    val wantStd = std
    moments.mapBlocks { c =>
      ArrayChunk(c.vars.collect {
        case (n, va) if !n.startsWith("__sq__") =>
          if (!touched(n)) n -> va
          else {
            val m2 = c.vars(s"__sq__$n").arr
            // clamp: the cancelling form can go epsilon-negative on
            // near-constant series (the rolling-var kernel clamps the
            // same way, and DuckDB errors on sqrt(negative));
            // max keeps a NaN input NaN
            n -> VarArray(va.dims, va.arr.zipF64(m2) { (m1, mm2) =>
              val v = math.max(0.0, mm2 - m1 * m1)
              if (wantStd) math.sqrt(v) else v
            })
          }
      })
    }
  }

  /** Running min AND max along `dim` in ONE scan pass — the fused form
    * of composing [[cummin]] + [[cummax]], which would read the source
    * twice, run two scan shuffles, and need a join to reunite the
    * halves. Each var spanning `dim` yields `<name>_cmin` and
    * `<name>_cmax`; the scan sliver is a stacked `[2] ++ laneShape`
    * carrying (min, max) together, so chunk bodies cross the machinery
    * once. */
  def cumminmax(dim: String): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val d = dim
    template.vars.foreach { case (n, vs) =>
      if (vs.dims.contains(d))
        Seq(s"${n}_cmin", s"${n}_cmax").foreach { out =>
          require(!template.vars.contains(out),
            s"cumminmax output $out collides with an existing variable")
        }
    }
    def stack2(a: NdArray, b: NdArray): NdArray =
      NdArray(DType.F64, Array(2) ++ a.shape, a.data ++ b.data)
    def planes(s: NdArray): (NdArray, NdArray) = {
      val lane = s.shape.drop(1)
      val half = s.data.length / 2
      (NdArray(DType.F64, lane, java.util.Arrays.copyOfRange(s.data, 0, half)),
        NdArray(DType.F64, lane,
          java.util.Arrays.copyOfRange(s.data, half, s.data.length)))
    }
    val sliverOf: (NdArray, Int) => NdArray = (arr, ax) => stack2(
      arr.extreme(Array(ax), skipna = false, isMin = true),
      arr.extreme(Array(ax), skipna = false, isMin = false))
    val init: Array[Int] => NdArray = stackedShape => {
      val lane = stackedShape.drop(1)
      stack2(NdArray.fill(DType.F64, lane, Double.PositiveInfinity),
        NdArray.fill(DType.F64, lane, Double.NegativeInfinity))
    }
    val combine: (NdArray, NdArray) => NdArray = (acc, sliver) => {
      val (amin, amax) = planes(acc)
      val (smin, smax) = planes(sliver)
      stack2(
        amin.zipF64(smin)((a, b) =>
          if (a.isNaN || b.isNaN) Double.NaN else math.min(a, b)),
        amax.zipF64(smax)((a, b) =>
          if (a.isNaN || b.isNaN) Double.NaN else math.max(a, b)))
    }
    def applyChunk(c: ArrayChunk, seeds: Map[String, NdArray]): ArrayChunk =
      ArrayChunk(c.vars.flatMap { case (n, va) =>
        if (!va.dims.contains(d)) Seq(n -> va)
        else {
          val ax = va.dims.indexOf(d)
          val seed = seeds.get(n).map(planes)
          Seq(
            s"${n}_cmin" -> VarArray(va.dims,
              va.arr.cumExtremeAlong(ax, isMin = true, seed.map(_._1))),
            s"${n}_cmax" -> VarArray(va.dims,
              va.arr.cumExtremeAlong(ax, isMin = false, seed.map(_._2))))
        }
      })
    val out = laneScan(d, reverse = false, stackK = 2)(
      (_, c) => c.vars.collect {
        case (n, va) if va.dims.contains(d) =>
          val ax = va.dims.indexOf(d)
          n -> VarArray("__s" +: va.dims.filterNot(_ == d),
            sliverOf(va.arr, ax))
      },
      init, combine, (_, c, seeds) => applyChunk(c, seeds))
    val newVars = template.vars.flatMap { case (n, vs) =>
      if (!vs.dims.contains(d)) Seq(n -> vs)
      else Seq(
        s"${n}_cmin" -> VarSpec(vs.dims, DType.F64),
        s"${n}_cmax" -> VarSpec(vs.dims, DType.F64))
    }
    withPlan(template.copy(vars = newVars), chunkSizes, splitVars,
      out.map { p: Pair => (p._1.copy(vars = None), p._2) })
  }

  /** Trailing rolling reduction along `dim` — [[rollingMean]]
    * generalized to op ∈ "sum" | "min" | "max" | "mean" | "var" |
    * "std" | "median" | "count" | "quantile:<q>" (xarray
    * `rolling(dim=w).sum()/…/.count()/.quantile(q)`, var/std
    * population ddof=0, count = valid values in the window, quantile
    * the numpy-linear order statistic at q·(n−1) — median is its
    * q=0.5 case), on the same halo exchange: only `window-1` trailing
    * slivers cross the wire. */
  def rolling(dim: String, window: Int, op: String,
              minPeriods: Int = 1, center: Boolean = false): XbeamDataset = {
    require(window >= 2, s"rolling window must be >= 2, got $window")
    if (!center)
      mapWithHalo(dim, window - 1) { (joined, ax, skip) =>
        joined.rollingReduceAlong(ax, window, skip, op, minPeriods)
      }
    else
      // centered windows need history AND future: the two-sided halo
      // ships both neighbors' slivers; window [i-(w-1-h), i+h] with
      // h = (w-1)/2 (pandas' even-window convention), truncated at the
      // global ends
      mapWithHaloBothAt(dim, window - 1 - (window - 1) / 2) {
        (joined, ax, skipPre, skipPost, _) =>
          joined.rollingCenteredAlong(ax, window, skipPre, skipPost,
            op, minPeriods)
      }
  }

  /** Rolling order statistic (xarray `rolling(dim=w).quantile(q)`):
    * [[rolling]] with the `"quantile:<q>"` op — per window the sorted
    * values interpolated linearly at position q·(n−1), numpy's default
    * method. Same single halo exchange; the sort is window-local. */
  def rollingQuantile(dim: String, window: Int, q: Double,
                      minPeriods: Int = 1,
                      center: Boolean = false): XbeamDataset = {
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    rolling(dim, window, s"quantile:$q", minPeriods, center)
  }

  /** Sliding-window materialization (xarray
    * `rolling(dim=w).construct(windowDim)`): every dim-spanning
    * variable gains ONE new trailing dim of length `window`, where
    * [..., i, ..., k] is the value at position i − (window−1) + k
    * along `dim` — NaN where that position falls before the array
    * start (xarray's left-truncated leading windows). Same single halo
    * exchange as [[rolling]]: only window−1 trailing slivers cross the
    * wire, the materialization is chunk-local, and the new dim is
    * unchunked (every chunk carries its full `window` extent), so the
    * chunk count — and the plan shape — is unchanged at any scale.
    * The w× data blow-up is the operator's SEMANTICS (a materialized
    * sliding view), not an implementation artifact. */
  def rollingConstruct(dim: String, window: Int,
                       windowDim: String = "window"): XbeamDataset = {
    require(window >= 2, s"construct window must be >= 2, got $window")
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(!template.dimSizes.contains(windowDim) &&
      !template.vars.contains(windowDim),
      s"window dim $windowDim already exists in the dataset")
    val haloLen = window - 1
    require(haloLen <= chunkSizes(dim),
      s"halo $haloLen must be <= chunk ${chunkSizes(dim)} for $dim " +
        "(rechunk larger along the dim first)")
    import ChunkTransforms.pairEnc
    import org.apache.spark.sql.Encoders
    implicit val taggedEnc = Encoders.kryo[(String, Boolean, Pair)]
    val d = dim
    val wd = windowDim
    val w = window
    val dimSize = template.dimSizes(dim)
    val tagged = chunkDataset.flatMap { p: Pair =>
      val (k, c) = p
      val off = k.offsets.getOrElse(d, 0L)
      val extent = c.vars.collectFirst {
        case (_, va) if va.dims.contains(d) => va.arr.shape(va.dims.indexOf(d))
      }.getOrElse(0)
      val own = (k.canonical, false, p)
      val nextOff = off + extent
      if (nextOff < dimSize && extent > 0) {
        val hl = math.min(w - 1, extent)
        val halo = ArrayChunk(c.vars.collect {
          case (n, va) if va.dims.contains(d) =>
            val ax = va.dims.indexOf(d)
            val starts = Array.fill(va.arr.ndim)(0)
            starts(ax) = extent - hl
            val lens = va.arr.shape.clone()
            lens(ax) = hl
            n -> VarArray(va.dims, va.arr.slice(starts, lens))
        })
        val nextKey = k.copy(offsets = k.offsets + (d -> nextOff))
        Seq(own, (nextKey.canonical, true, (k, halo)))
      } else Seq(own)
    }
    val out = tagged.groupByKey(_._1)(Encoders.STRING).mapGroups { (_, it) =>
      val items = it.toSeq
      val ownItems = items.filter(!_._2)
      require(ownItems.length == 1,
        s"construct: expected exactly one own chunk per key, got ${ownItems.length}")
      val (key, ownChunk) = ownItems.head._3
      val haloOpt = items.find(_._2).map(_._3._2)
      val result = ArrayChunk(ownChunk.vars.map { case (n, va) =>
        if (!va.dims.contains(d)) n -> va
        else {
          val ax = va.dims.indexOf(d)
          val joined = haloOpt match {
            case Some(h) =>
              val ha = h.vars(n).arr
              val shape2 = va.arr.shape.clone()
              shape2(ax) += ha.shape(ax)
              val j = NdArray.zeros(va.arr.dtype, shape2)
              j.insert(Array.fill(shape2.length)(0), ha)
              val st = Array.fill(shape2.length)(0)
              st(ax) = ha.shape(ax)
              j.insert(st, va.arr)
              j
            case None => va.arr
          }
          val skip = haloOpt.map(_.vars(n).arr.shape(ax)).getOrElse(0)
          n -> VarArray(va.dims :+ wd,
            joined.rollingConstructAlong(ax, w, skip))
        }
      })
      (key, result)
    }
    val newTemplate = Template(
      template.dims :+ (wd -> w.toLong),
      template.vars.map { case (n, vs) =>
        n -> (if (vs.dims.contains(d)) VarSpec(vs.dims :+ wd, DType.F64) else vs)
      },
      template.coords, template.attrs)
    withPlan(newTemplate, chunkSizes + (wd -> w), splitVars,
      out.map { p: Pair => (p._1.copy(vars = None), p._2) })
  }

  /** Kernel-weighted trailing window along `dim` (xarray's
    * `rolling(dim, w).construct(windowDim).dot(weights)` idiom, fused):
    * position i becomes Σ_k weights(k)·v[i−w+1+k] with k = 0 the
    * OLDEST tap; the first w−1 positions are NaN (incomplete windows —
    * the construct view's NaN pads propagated through the dot), and a
    * NaN tap anywhere voids the window. ONE halo exchange, exactly
    * like [[rolling]]: window−1 trailing slivers cross the wire and
    * the weighted fold is chunk-local — the w× construct view is never
    * materialized, so the plan shape (and the shuffle payload) is that
    * of a plain rolling mean at any scale. */
  def convolve(dim: String, weights: Array[Double]): XbeamDataset = {
    require(weights.length >= 2,
      s"convolve kernel must have >= 2 taps, got ${weights.length}")
    val ws = weights.clone()
    mapWithHalo(dim, weights.length - 1) { (joined, ax, skip) =>
      joined.convolveAlong(ax, ws, skip)
    }
  }

  /** Rolling Pearson correlation of two variables along `dim` (pandas
    * `rolling(w).corr()` between columns; xarray reaches it via
    * `rolling(...).construct` + `xr.corr`): one narrow pass derives six
    * pairwise-masked moment variables (x, y, xy, x², y², and the
    * both-valid indicator — a NaN on EITHER side voids the pair in all
    * six), [[rolling]] sums them through ONE halo exchange, and the
    * closed form
    * (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²)·√(n·Σy² − (Σy)²))
    * folds per cell — no shuffle beyond rolling's sliver exchange, and
    * the data itself never moves twice. Windows with fewer than
    * `minPeriods` valid pairs are NaN; zero-variance windows are NaN
    * too (the numerator is exactly 0 there on exact sums, so 0/0). */
  def rollingCorr(dim: String, window: Int, x: String, y: String,
                  minPeriods: Int = 2, center: Boolean = false,
                  out: String = "corr"): XbeamDataset =
    rollingPair(dim, window, x, y, "corr", out, minPeriods, center)

  /** Rolling covariance of two variables along `dim` (pandas
    * `rolling(w).cov()`; ddof = 1, the sample convention, matching
    * [[cov]]): same six-moment single-halo machinery as
    * [[rollingCorr]], folding (Σxy − Σx·Σy/n) / (n − ddof). */
  def rollingCov(dim: String, window: Int, x: String, y: String,
                 ddof: Int = 1, minPeriods: Int = 2, center: Boolean = false,
                 out: String = "cov"): XbeamDataset = {
    require(ddof >= 0, s"ddof must be >= 0, got $ddof")
    rollingPair(dim, window, x, y, s"cov:$ddof", out, minPeriods, center)
  }

  private def rollingPair(dim: String, window: Int, x: String, y: String,
                          kind: String, out: String, minPeriods: Int,
                          center: Boolean): XbeamDataset = {
    require(!splitVars,
      "rollingCorr/rollingCov need both variables in each chunk — " +
        "consolidate variables first")
    val xs = template.vars.getOrElse(x,
      throw new IllegalArgumentException(s"unknown variable $x"))
    val ys = template.vars.getOrElse(y,
      throw new IllegalArgumentException(s"unknown variable $y"))
    require(xs.dims == ys.dims,
      s"rollingCorr/rollingCov need $x and $y on identical dims, " +
        s"got ${xs.dims} vs ${ys.dims}")
    require(xs.dims.contains(dim), s"$x does not span $dim (has ${xs.dims})")
    val xn = x
    val yn = y
    // invalid pairs contribute ZERO to every moment (the rolling-sum
    // kernel is NaN-poisoning, so a NaN placeholder would void whole
    // windows — zero-filling plus the 0/1 validity indicator recovers
    // pandas' pairwise-complete counting instead)
    val derived = mapBlocks { c =>
      val xa = c.vars(xn)
      val ya = c.vars(yn)
      def z(f: (Double, Double) => Double) =
        xa.arr.zipF64(ya.arr)((a, b) =>
          if (a.isNaN || b.isNaN) 0.0 else f(a, b))
      ArrayChunk(Map(
        "__px" -> VarArray(xa.dims, z((a, _) => a)),
        "__py" -> VarArray(xa.dims, z((_, b) => b)),
        "__pxy" -> VarArray(xa.dims, z(_ * _)),
        "__pxx" -> VarArray(xa.dims, z((a, _) => a * a)),
        "__pyy" -> VarArray(xa.dims, z((_, b) => b * b)),
        "__pn" -> VarArray(xa.dims, z((_, _) => 1.0))))
    }
    val summed = derived.rolling(dim, window, "sum", 1, center)
    val wantCorr = kind == "corr"
    val ddof = if (wantCorr) 0 else kind.stripPrefix("cov:").toInt
    val o = out
    val minP = math.max(minPeriods, 1)
    summed.mapBlocks { c =>
      val sx = c.vars("__px").arr
      val sy = c.vars("__py").arr
      val sxy = c.vars("__pxy").arr
      val sxx = c.vars("__pxx").arr
      val syy = c.vars("__pyy").arr
      val sn = c.vars("__pn").arr
      val res = NdArray.zeros(DType.F64, sx.shape.clone())
      val sz = sx.size
      var i = 0L
      while (i < sz) {
        val n = sn.getDouble(i)
        val v =
          if (n < minP) Double.NaN
          else if (wantCorr) {
            val num = n * sxy.getDouble(i) - sx.getDouble(i) * sy.getDouble(i)
            val den =
              math.sqrt(n * sxx.getDouble(i) -
                sx.getDouble(i) * sx.getDouble(i)) *
              math.sqrt(n * syy.getDouble(i) -
                sy.getDouble(i) * sy.getDouble(i))
            num / den
          } else
            (sxy.getDouble(i) - sx.getDouble(i) * sy.getDouble(i) / n) /
              (n - ddof)
        res.setDouble(i, v)
        i += 1
      }
      ArrayChunk(Map(o -> VarArray(c.vars("__px").dims, res)))
    }
  }

  /** Per-cell degree-1 OLS slope along `dim` against the global dim
    * index (xarray `polyfit(dim, deg=1)`'s linear coefficient — the
    * secular-trend map of a climate pipeline). One keyed shuffle of
    * 5-plane (n, Σt, Σt², Σv, Σtv) partials — data never reshuffles;
    * NaN where a cell has fewer than two valid points. */
  def trend(dim: String, skipna: Boolean = true): XbeamDataset =
    trendCore(dim, skipna, None)

  /** WEIGHTED per-cell OLS slope along `dim` (xarray
    * `polyfit(dim, deg=1, w=weights)`'s slope for a 1-D weight vector
    * on the dim — e.g. down-weighting known-noisy epochs): the same
    * one-shuffle partial-accumulator shape as [[trend]], with the
    * 5 moment planes weight-multiplied (Σw, Σwt, Σwt², Σwv, Σwtv) and
    * the weight vector broadcast once. Degenerate cells (one point,
    * or all weight on one position) land on a zero denominator → NaN.
    * Integer-valued weights and data keep every sum exact, so merge
    * order cannot change a bit. */
  def weightedTrend(dim: String, weights: NdArray,
                    skipna: Boolean = true): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(weights.ndim == 1 &&
      weights.shape(0) == template.dimSizes(dim),
      s"weight on $dim must be 1-D of length ${template.dimSizes(dim)}, " +
        s"got ${weights.shape.mkString("x")}")
    trendCore(dim, skipna, Some(XbeamDataset.checkedWeights(weights, dim)))
  }

  private def trendCore(dim: String, skipna: Boolean,
                        weights: Option[Array[Double]]): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val newTemplate = Template(
      template.dims.filterNot(_._1 == dim),
      template.vars.map { case (n, vs) =>
        n -> VarSpec(vs.dims.filterNot(_ == dim),
          if (vs.dims.contains(dim)) DType.F64 else vs.dtype)
      },
      template.coords - dim, template.attrs)
    withPlan(newTemplate, chunkSizes - dim, splitVars,
      ChunkTransforms.trendReduce(chunkDataset, dim, skipna,
        weights.map(spark.sparkContext.broadcast(_))))
  }

  /** Per-cell least-squares polynomial fit along `dim` (xarray
    * `Dataset.polyfit(dim, deg)`) against the global integer index:
    * the output swaps `dim` for a leading `degree` dim of size deg+1,
    * position k holding the coefficient of t^(deg−k) — xarray's
    * highest-power-first order (its degree coordinate is the
    * descending power; ours is positional). deg 1 and 2 extract
    * through spelled-out Cramer expansions whose expression tree a
    * SQL oracle mirrors bit-for-bit on integer-exact sums; higher
    * degrees solve the normal equations by Gaussian elimination with
    * partial pivoting (xarray itself switches to a numerical lstsq
    * there — no bit-parity to chase). Same one-shuffle
    * partial-accumulator shape as [[trend]]: the shuffle carries
    * 3·deg+2 power/moment planes per cell, never data. */
  def polyfit(dim: String, deg: Int, skipna: Boolean = true): XbeamDataset =
    polyfitCore(dim, deg, skipna, None)

  /** WEIGHTED polynomial fit (xarray `polyfit(dim, deg, w=weights)`
    * with a 1-D dim weight vector): [[polyfit]]'s power and moment
    * planes each multiply by w — the weighted normal equations — with
    * the same extract (Cramer at deg ≤ 2, pivoted elimination above;
    * degenerate weighted systems land on a zero determinant/pivot →
    * NaN). The weight vector broadcasts once; [[weightedTrend]] is
    * this at deg 1, slope only. */
  def weightedPolyfit(dim: String, deg: Int, weights: NdArray,
                      skipna: Boolean = true): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(weights.ndim == 1 &&
      weights.shape(0) == template.dimSizes(dim),
      s"weight on $dim must be 1-D of length ${template.dimSizes(dim)}, " +
        s"got ${weights.shape.mkString("x")}")
    polyfitCore(dim, deg, skipna,
      Some(XbeamDataset.checkedWeights(weights, dim)))
  }

  private def polyfitCore(dim: String, deg: Int, skipna: Boolean,
                          weights: Option[Array[Double]]): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(deg >= 1 && deg <= 8,
      s"polyfit degree must be in [1, 8], got $deg (normal equations on " +
        "an integer index are numerically hopeless beyond that)")
    require(!template.dimSizes.contains("degree"),
      "polyfit output dim 'degree' collides with an existing dim")
    val newTemplate = Template(
      ("degree" -> (deg + 1).toLong) +: template.dims.filterNot(_._1 == dim),
      template.vars.map { case (n, vs) =>
        n -> (if (vs.dims.contains(dim))
          VarSpec("degree" +: vs.dims.filterNot(_ == dim), DType.F64)
        else vs)
      },
      template.coords - dim, template.attrs)
    withPlan(newTemplate,
      (chunkSizes - dim) + ("degree" -> (deg + 1)), splitVars,
      ChunkTransforms.polyReduce(chunkDataset, dim, deg, skipna,
        weights.map(spark.sparkContext.broadcast(_))))
  }

  /** Elementwise membership mask (xarray `isin`): 1.0 where the value
    * is one of `values`, else 0.0; NaN is never a member (xarray
    * returns False there too). [[mapValues]] sugar — pure narrow map. */
  def isin(values: Set[Double]): XbeamDataset = {
    val vs = values
    mapValues(v => if (vs.contains(v)) 1.0 else 0.0)
  }

  /** Remove a fitted degree-`deg` polynomial along `dim` — detrending
    * (deg=1 linear, deg=2 the quadratic drift of a warming series):
    * v − P(t) with P from [[polyfit]], evaluated at the global index
    * in Horner form highest-first (`(c₂·t + c₁)·t + c₀` — mirror that
    * exact tree in any oracle). One polyfit shuffle builds the
    * coefficients; the full dataset then maps against them without
    * reshuffling ([[zipReducedKeyed]]: broadcast under the size guard,
    * co-partitioned join above it). NaN values stay NaN. */
  def detrend(dim: String, deg: Int, skipna: Boolean = true): XbeamDataset = {
    val fitted = polyfit(dim, deg, skipna)
    val d = dim
    val merged = template.copy(vars = template.vars.map { case (n, vs) =>
      n -> VarSpec(vs.dims, if (vs.dims.contains(d)) DType.F64 else vs.dtype)
    })
    zipReducedKeyed(fitted)({ (key, chunk, red) =>
      val off = key.offsets.getOrElse(d, 0L)
      ArrayChunk(chunk.vars.map { case (n, va) =>
        if (!va.dims.contains(d)) n -> va
        else {
          val ax = va.dims.indexOf(d)
          n -> VarArray(va.dims,
            va.arr.detrendAlong(ax, off, red.vars(n).arr))
        }
      })
    }, merged)
  }

  /** Fitted-polynomial evaluation along `dim` (xarray
    * `xr.polyval(coord, ds.polyfit(...))` composed): the per-cell
    * degree-`deg` least-squares fit evaluated back at every global
    * index in Horner form highest-first — the trend SURFACE [[detrend]]
    * subtracts. Same plan as detrend: one polyfit shuffle builds the
    * coefficients, then the dataset maps against them without
    * reshuffling (broadcast under the zipReduced size guard). Output
    * is a pure function of (coordinate index, coefficients); data NaNs
    * affect it only through the fit itself (skipna). */
  def polyval(dim: String, deg: Int, skipna: Boolean = true): XbeamDataset = {
    val fitted = polyfit(dim, deg, skipna)
    val d = dim
    val merged = template.copy(vars = template.vars.map { case (n, vs) =>
      n -> VarSpec(vs.dims, if (vs.dims.contains(d)) DType.F64 else vs.dtype)
    })
    zipReducedKeyed(fitted)({ (key, chunk, red) =>
      val off = key.offsets.getOrElse(d, 0L)
      ArrayChunk(chunk.vars.map { case (n, va) =>
        if (!va.dims.contains(d)) n -> va
        else {
          val ax = va.dims.indexOf(d)
          n -> VarArray(va.dims,
            va.arr.polyvalAlong(ax, off, red.vars(n).arr))
        }
      })
    }, merged)
  }

  /** Linear interpolation across NaN runs along `dim` (xarray
    * `interpolate_na(dim, method='linear')`): each NaN position between
    * two valid values takes the straight line through its nearest valid
    * neighbors; leading/trailing NaNs stay NaN. Distributed as two
    * [[cumsum]]-style scans of (value, global index) slivers
    * ([[laneScanBothWays]]) — a forward one carrying each chunk's last
    * valid position per lane and a reverse one carrying its first —
    * after which every chunk interpolates locally. */
  def interpolateNa(dim: String): XbeamDataset =
    interpolateNa(dim, Double.PositiveInfinity)

  /** [[interpolateNa]] with xarray's `max_gap`: a NaN run whose
    * bracketing valid positions sit more than `maxGap` index steps
    * apart stays NaN (gap measured endpoint-to-endpoint, the xarray
    * definition). The distributed shape is identical — the (value,
    * global index) slivers already carry everything the gap test
    * needs, so the bound applies chunk-locally at fill time. */
  def interpolateNa(dim: String, maxGap: Double): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(maxGap > 0, s"max_gap must be positive, got $maxGap")
    val d = dim
    val joined = laneScanBothWays(d) { (key, c, prev, next) =>
      val off = key.offsets.getOrElse(d, 0L)
      ArrayChunk(c.vars.map { case (n, va) =>
        if (!va.dims.contains(d)) n -> va
        else {
          val ax = va.dims.indexOf(d)
          n -> VarArray(va.dims,
            va.arr.interpNaAlong(ax, off, prev.get(n), next.get(n), maxGap))
        }
      })
    }
    val newTemplate = template.copy(vars = template.vars.map { case (n, vs) =>
      n -> VarSpec(vs.dims, if (vs.dims.contains(dim)) DType.F64 else vs.dtype)
    })
    withPlan(newTemplate, chunkSizes, splitVars, joined)
  }

  /** Calendar-period downsample (xarray `resample(time=freq).mean()`):
    * the dim's datetime64 coordinate resolves each position to a
    * period bucket ON THE DRIVER (the coord is plan-time metadata);
    * each chunk reduces its bucket runs locally to (sum, count)
    * partials keyed by bucket — so the one shuffle carries partials,
    * never data, exactly like [[mean]] — and the output dim has one
    * position per period with the period-start timestamps as its new
    * coordinate. `period` ∈ "year" | "month" | "day" | "hour". */
  def resampleMean(dim: String, period: String,
                   skipna: Boolean = true): XbeamDataset = {
    import ChunkTransforms.MeanAcc
    implicit val accEnc = Encoders.kryo[(ChunkKey, MeanAcc, ArrayChunk)]
    resampleCore[MeanAcc](dim, period,
      sliced => ChunkTransforms.sumCountChunk(sliced, Set(dim), skipna),
      (a, b) => a.merge(b),
      _.extract,
      MeanAcc(ArrayChunk(Map.empty), ArrayChunk(Map.empty)))
  }

  /** [[resampleMean]] generalized to the other reductions: per-period
    * sum / min / max / var / std (monthly-max temperature being THE
    * canonical climate resample). Identical distributed shape — bucket
    * runs reduce chunk-locally through [[ChunkTransforms.ReduceAcc]],
    * one shuffle of partials. */
  def resampleReduce(dim: String, period: String, kind: String,
                     skipna: Boolean = true): XbeamDataset = {
    import ChunkTransforms.ReduceAcc
    val base = ChunkTransforms.ReduceAcc.baseOf(kind)
    val nParts = if (base == "var" || base == "std") 3 else 1
    implicit val accEnc = Encoders.kryo[(ChunkKey, ReduceAcc, ArrayChunk)]
    resampleCore[ReduceAcc](dim, period,
      sliced => ReduceAcc.ofChunk(sliced, Set(dim), kind, skipna),
      (a, b) => a.merge(b),
      _.extract,
      ReduceAcc(kind, skipna,
        Seq.fill(nParts)(ArrayChunk(Map.empty)), ArrayChunk(Map.empty)))
  }

  /** Calendar-period EXACT median per bucket (xarray
    * `resample(time=freq).median()`): each position's datetime
    * coordinate rewrites PLAN-TIME to its period start, and the
    * groupbyCoord order-statistic machinery does the rest — per-group
    * raw runs meet in one (chunk, group)-keyed shuffle, and the output
    * dim's coordinate is the period starts. The order-statistic
    * sibling of [[resampleMean]]/[[resampleReduce]] (whose partials
    * can't express a median). */
  def resampleMedian(dim: String, period: String,
                     skipna: Boolean = true): XbeamDataset =
    withPeriodCoord(dim, period).groupbyCoordMedian(dim, skipna)

  /** [[resampleMedian]] generalized to any quantile (xarray
    * `resample(time=freq).quantile(q)`), numpy linear interpolation. */
  def resampleQuantile(dim: String, period: String, q: Double,
                       skipna: Boolean = true): XbeamDataset =
    withPeriodCoord(dim, period).groupbyCoordQuantile(dim, q, skipna)

  private def withPeriodCoord(dim: String, period: String): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim,
      throw new IllegalArgumentException(
        s"resample needs a coordinate on $dim"))
    calendars.get(dim).foreach { tag =>
      // calendar axis: period starts computed on the calendar's own
      // timeline, written back as raw counts — same encoding, so the
      // tag survives assignCoords' drop
      val starts = XbeamDataset.calCoordInstants(coord, tag)
        .map(graft.sources.CfCalendar.periodStart(tag.calendar, period, _))
        .map(XbeamDataset.calInstantToCount(_, tag))
      val out =
        if (coord.dtype == DType.F64 || coord.dtype == DType.F32)
          NdArray.fromDoubles(DType.F64, Array(starts.length),
            starts.map(_.toDouble))
        else NdArray.fromLongs(DType.I64, Array(starts.length), starts)
      return assignCoords(dim, out).withCalendars(calendars)
    }
    require(coord.dtype == DType.TimeNs,
      s"resample needs a datetime64 coord on $dim, got ${coord.dtype.zarr}")
    val starts = coord.toLongs.map(XbeamDataset.periodStartNs(period, _))
    assignCoords(dim,
      NdArray.fromLongs(DType.TimeNs, Array(starts.length), starts))
  }

  /** Calendar UPSAMPLE onto a finer fixed-width grid (xarray
    * `resample(time=freq).ffill()/bfill()/nearest()/interpolate()` in
    * the upsampling direction): the target index is every `period`
    * boundary from floor(min) through max (epoch-aligned;
    * "day" | "hour" | "minute" — the fixed-width frequencies; xarray's
    * bin-label grid), resolved at plan time from the datetime
    * coordinate, then values fill via [[reindex]]'s bounded position
    * gather (ffill/bfill/nearest) or [[interpLinear]]'s two-row gather
    * (linear). A leading label before the first observation
    * forward-fills to NaN exactly as xarray does (dim variables widen
    * to float64 then; a boundary-aligned series keeps every label
    * resolved and integer dtypes intact). Linear starts at ceil(min)
    * instead — interpolation never extrapolates. */
  def resampleUpsample(dim: String, period: String,
                       method: String): XbeamDataset = {
    val coord = template.coords.getOrElse(dim,
      throw new IllegalArgumentException(
        s"resampleUpsample needs a coordinate on $dim"))
    require(coord.dtype == DType.TimeNs,
      s"resampleUpsample needs a datetime64 coord on $dim, " +
        s"got ${coord.dtype.zarr}")
    val stepNs = period match {
      case "day"    => 86400L * 1000000000L
      case "hour"   => 3600L * 1000000000L
      case "minute" => 60L * 1000000000L
      case other => throw new IllegalArgumentException(
        "resampleUpsample needs a fixed-width period " +
          s"(day | hour | minute), got $other")
    }
    val src = coord.toLongs
    require(src.nonEmpty, s"empty coordinate on $dim")
    val lo = src.min
    val hi = src.max
    val start =
      if (method == "linear") -Math.floorDiv(-lo, stepNs) * stepNs // ceil
      else Math.floorDiv(lo, stepNs) * stepNs // xarray's bin-label floor
    val targets =
      Iterator.iterate(start)(_ + stepNs).takeWhile(_ <= hi).toArray
    require(targets.nonEmpty,
      s"resampleUpsample: no $period boundary inside " +
        s"the coordinate range [$lo, $hi]")
    method match {
      case "linear" => interpLinear(dim, targets)
      case "ffill" | "bfill" | "nearest" =>
        reindex(dim, targets, method, Long.MaxValue)
      case other => throw new IllegalArgumentException(
        "resampleUpsample method must be " +
          s"ffill | bfill | nearest | linear, got $other")
    }
  }

  private def resampleCore[A](dim: String, period: String,
                              accOf: ArrayChunk => A,
                              mergeA: (A, A) => A,
                              extractA: A => ArrayChunk,
                              emptyA: A)(
      implicit accEnc: org.apache.spark.sql.Encoder[(ChunkKey, A, ArrayChunk)]): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"resample needs a coordinate on $dim"))
    // a calendar-tagged axis buckets on its own fixed-year timeline;
    // the output coordinate stays RAW COUNTS in the same encoding (the
    // tag survives, so a further timeField/resample keeps working)
    calendars.get(dim).foreach { tag =>
      import graft.sources.CfCalendar
      val insts = XbeamDataset.calCoordInstants(coord, tag)
      val bucketOf = new Array[Int](insts.length)
      val bucketStarts =
        scala.collection.mutable.ArrayBuffer.empty[CfCalendar.CalInstant]
      var prev: CfCalendar.CalInstant = null
      var i = 0
      while (i < insts.length) {
        require(prev == null || CfCalendar.nsBetween(insts(i), prev) >= 0,
          s"resample requires a non-decreasing coord on $dim")
        prev = insts(i)
        val st = CfCalendar.periodStart(tag.calendar, period, insts(i))
        if (bucketStarts.isEmpty || st != bucketStarts.last) bucketStarts += st
        bucketOf(i) = bucketStarts.length - 1
        i += 1
      }
      val counts =
        bucketStarts.toArray.map(XbeamDataset.calInstantToCount(_, tag))
      val outCoord =
        if (coord.dtype == DType.F64 || coord.dtype == DType.F32)
          NdArray.fromDoubles(DType.F64, Array(counts.length),
            counts.map(_.toDouble))
        else NdArray.fromLongs(DType.I64, Array(counts.length), counts)
      return bucketReduceCore[A](dim, bucketOf, outCoord,
        accOf, mergeA, extractA, emptyA)
    }
    require(coord.dtype == DType.TimeNs,
      s"resample needs a datetime64 coord on $dim, got ${coord.dtype.zarr}")
    val ns = coord.toLongs
    def periodStartNs(t: Long): Long =
      XbeamDataset.periodStartNs(period, t)
    // dense bucket ids; monotonic time makes each bucket one contiguous run
    val bucketOf = new Array[Int](ns.length)
    val bucketStarts = scala.collection.mutable.ArrayBuffer.empty[Long]
    var prevT = Long.MinValue
    var i = 0
    while (i < ns.length) {
      require(ns(i) >= prevT,
        s"resample requires a non-decreasing coord on $dim")
      prevT = ns(i)
      val st = periodStartNs(ns(i))
      if (bucketStarts.isEmpty || st != bucketStarts.last) bucketStarts += st
      bucketOf(i) = bucketStarts.length - 1
      i += 1
    }
    bucketReduceCore[A](dim, bucketOf,
      NdArray.fromLongs(DType.TimeNs, Array(bucketStarts.length),
        bucketStarts.toArray),
      accOf, mergeA, extractA, emptyA)
  }

  /** Group along `dim` by the DISTINCT VALUES of its coordinate (xarray
    * `groupby(coord).mean()` — the `'time.season'`-style op where
    * groups interleave, which [[resampleMean]]'s contiguous-run
    * contract can't express). The distinct sorted values become the
    * output dim's coordinate (original dtype preserved), resolved
    * PLAN-TIME from the template coord; the distributed shape is the
    * shared bucket core — per-chunk runs reduce locally, ONE shuffle of
    * per-(chunk, group) partials, never data. */
  def groupbyCoordMean(dim: String, skipna: Boolean = true): XbeamDataset = {
    import ChunkTransforms.MeanAcc
    implicit val accEnc = Encoders.kryo[(ChunkKey, MeanAcc, ArrayChunk)]
    val (bucketOf, outCoord) = coordGroups(dim)
    bucketReduceCore[MeanAcc](dim, bucketOf, outCoord,
      sliced => ChunkTransforms.sumCountChunk(sliced, Set(dim), skipna),
      (a, b) => a.merge(b),
      _.extract,
      MeanAcc(ArrayChunk(Map.empty), ArrayChunk(Map.empty)))
  }

  /** [[groupbyCoordMean]] generalized to the other reductions — per-group
    * sum / min / max / count / prod / var / std (optionally
    * "var:<ddof>"), same interleaved-group partial shuffle. */
  def groupbyCoordReduce(dim: String, kind: String,
                         skipna: Boolean = true): XbeamDataset = {
    import ChunkTransforms.ReduceAcc
    val base = ChunkTransforms.ReduceAcc.baseOf(kind)
    val nParts = if (base == "var" || base == "std") 3 else 1
    implicit val accEnc = Encoders.kryo[(ChunkKey, ReduceAcc, ArrayChunk)]
    val (bucketOf, outCoord) = coordGroups(dim)
    bucketReduceCore[ReduceAcc](dim, bucketOf, outCoord,
      sliced => ChunkTransforms.ReduceAcc.ofChunk(sliced, Set(dim), kind, skipna),
      (a, b) => a.merge(b),
      _.extract,
      ChunkTransforms.ReduceAcc(kind, skipna,
        Seq.fill(nParts)(ArrayChunk(Map.empty)), ArrayChunk(Map.empty)))
  }

  /** Exact per-group median (xarray `groupby(coord).median()`): like
    * all exact order statistics the group's raw values must meet — the
    * shuffle ships each group's run SLICES keyed by (chunk, group) and
    * one task per (cross-chunk, group) cell sorts them, so per-task
    * memory is that group's extent × the kept chunk's cross-section
    * (groups are small by construction — seasons, months, classes; the
    * documented trade of [[median]] applies). */
  def groupbyCoordMedian(dim: String, skipna: Boolean = true): XbeamDataset =
    groupbyCoordOrderStat(dim, skipna)((arr, ax, sk) =>
      arr.medianAlong(Array(ax), sk))

  /** Exact per-group quantile with linear interpolation (xarray
    * `groupby(coord).quantile(q)`) — same raw-slice shuffle as
    * [[groupbyCoordMedian]] (median is `q = 0.5`). */
  def groupbyCoordQuantile(dim: String, q: Double,
                           skipna: Boolean = true): XbeamDataset = {
    require(q >= 0.0 && q <= 1.0, s"quantile q must be in [0, 1], got $q")
    groupbyCoordOrderStat(dim, skipna)((arr, ax, sk) =>
      arr.quantileAlong(Array(ax), q, sk))
  }

  /** Per-group APPROXIMATE quantile — the scale-safe sibling of
    * [[groupbyCoordQuantile]], using the same deterministic equi-width
    * histogram sketch as [[approxQuantile]] per (group, kept cell).
    * Exact per-group (min, max) bounds build in their own bucket-reduce
    * jobs (small by construction — the size class
    * [[groupbyCoordAnomaly]] already collects and broadcasts) and
    * broadcast into the histogram pass, which ships `bins` doubles per
    * (group, cell) through the ONE partial shuffle of the shared bucket
    * core. Unlike the exact path, the group's raw values never meet;
    * error <= (max − min)/bins per (group, cell), bit-deterministic
    * under any partitioning (gate x112's oracle reproduces it). */
  def groupbyCoordApproxQuantile(dim: String, q: Double, bins: Int = 256,
                                 skipna: Boolean = true): XbeamDataset = {
    require(q >= 0.0 && q <= 1.0, s"q must be in [0, 1], got $q")
    require(bins >= 1 && bins <= (1 << 20),
      s"bins must be in [1, 2^20], got $bins")
    import ChunkTransforms.HistAcc
    val (bucketOf, outCoord) = coordGroups(dim)
    // two passes over the source (bucket-bounds collect, then the keyed
    // histogram reduce) — cache the chunk stream (see withCachedChunks)
    // so the upstream runs once
    val src = withCachedChunks
    // exact per-group bounds in ONE extra traversal (min and max ride
    // the same partials), consolidated and broadcast
    val (loVars, hiVars) =
      src.bucketBoundsCollect(dim, bucketOf, outCoord.shape(0), skipna)
    val bcLo = spark.sparkContext.broadcast(loVars)
    val bcHi = spark.sparkContext.broadcast(hiVars)
    implicit val accEnc = Encoders.kryo[(ChunkKey, HistAcc, ArrayChunk)]
    val d = dim
    val b = bins
    src.bucketReduceCoreKeyed[HistAcc](dim, bucketOf, outCoord,
      (key, sliced) => HistAcc.ofSlice(sliced, Set(d), b, { n =>
        // cut this (bucket, kept-window) slab out of the broadcast
        // per-group bounds: index the group axis at the bucket id (the
        // key's dim offset) and the kept axes at the chunk's offsets
        val va = sliced.vars(n)
        def cut(all: Map[String, VarArray]): NdArray = {
          val full = all(n)
          val st = full.dims.map {
            case `d` => key.offsets(d).toInt
            case dd => key.offsets.getOrElse(dd, 0L).toInt
          }.toArray
          val ln = full.dims.map {
            case `d` => 1
            case dd => va.arr.shape(va.dims.indexOf(dd))
          }.toArray
          val sl = full.arr.slice(st, ln)
          val keptShape = va.dims.zipWithIndex.collect {
            case (dd, i) if dd != d => va.arr.shape(i)
          }.toArray
          NdArray(DType.F64, keptShape, sl.data)
        }
        (cut(bcLo.value), cut(bcHi.value))
      }),
      // empty accs come from passthrough-only replica chunks: merge must
      // treat them as the identity, not clobber the real partial
      (x, y) =>
        if (x.hists.isEmpty) y else if (y.hists.isEmpty) x else x.merge(y),
      acc => acc.extract(q, b),
      HistAcc(Map.empty, Map.empty, Map.empty, ArrayChunk(Map.empty)))
  }

  private def groupbyCoordOrderStat(dim: String, skipna: Boolean)(
      kernel: (NdArray, Int, Boolean) => NdArray): XbeamDataset = {
    implicit val accEnc =
      Encoders.kryo[(ChunkKey, Vector[ArrayChunk], ArrayChunk)]
    val (bucketOf, outCoord) = coordGroups(dim)
    val d = dim
    val sk = skipna
    bucketReduceCore[Vector[ArrayChunk]](dim, bucketOf, outCoord,
      sliced => Vector(sliced),
      (a, b) => a ++ b,
      slices => ArrayChunk(
        slices.flatMap(_.vars.keys).distinct.map { n =>
          // concat the group's slices along d (order-insensitive — the
          // kernel sorts), then collapse with the order statistic
          val parts = slices.flatMap(_.vars.get(n))
          val ax = parts.head.dims.indexOf(d)
          val shape = parts.head.arr.shape.clone()
          shape(ax) = parts.map(_.arr.shape(ax)).sum
          val joined = NdArray.zeros(DType.F64, shape)
          var pos = 0
          parts.foreach { p =>
            val dst = Array.fill(shape.length)(0); dst(ax) = pos
            joined.insert(dst, p.arr.mapF64(identity))
            pos += p.arr.shape(ax)
          }
          n -> VarArray(parts.head.dims.filterNot(_ == d),
            kernel(joined, ax, sk))
        }.toMap),
      Vector.empty)
  }

  /** Derive a calendar field from `dim`'s datetime64 coordinate and
    * install it as the dim's (int64) coordinate — xarray's virtual
    * `'time.month'` accessors. Pure plan-time metadata (the coord lives
    * in the template; chunks are untouched), so
    * `ds.timeField("time", "month").groupbyCoordMean("time")` is
    * exactly `ds.groupby('time.month').mean()`, and the same
    * composition reaches the median/quantile/reduce/anomaly flavors.
    * Fields: `year`, `month` (1-12), `day` (1-31), `hour` (0-23),
    * `dayofyear` (1-366), `dayofweek` (0 = Monday, xarray's
    * convention), `season` (0 = DJF, 1 = MAM, 2 = JJA, 3 = SON). */
  def timeField(dim: String, field: String): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"timeField needs a coordinate on $dim"))
    // non-Gregorian calendar axis: derive the field from raw CF counts
    // with closed-form fixed-year arithmetic (CfCalendar); the derived
    // ints replace the coord, so the calendar tag drops with it
    calendars.get(dim).foreach { tag =>
      val derived = XbeamDataset.calCoordInstants(coord, tag).map(t =>
        graft.sources.CfCalendar.fieldOf(tag.calendar, t, field))
      // assignCoords validates the length and drops the calendar tag
      // (the derived ints are no longer counts in the tag's encoding)
      return assignCoords(dim,
        NdArray.fromLongs(DType.I64, Array(derived.length), derived))
    }
    require(coord.dtype == DType.TimeNs,
      s"timeField needs a datetime64 coordinate on $dim, got ${coord.dtype.zarr}")
    val derived = coord.toLongs.map { t =>
      // NaT (possible since CF-time stores decode missing slots to NaT)
      // would otherwise derive silent year-1677 calendar fields
      require(t != Long.MinValue,
        "NaT in datetime coordinate — drop or fill missing times before " +
          "timeField")
      val ldt = java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(
          Math.floorDiv(t, 1000000000L), Math.floorMod(t, 1000000000L)),
        java.time.ZoneOffset.UTC)
      field match {
        case "year" => ldt.getYear.toLong
        case "month" => ldt.getMonthValue.toLong
        case "day" => ldt.getDayOfMonth.toLong
        case "hour" => ldt.getHour.toLong
        case "dayofyear" => ldt.getDayOfYear.toLong
        case "dayofweek" => ldt.getDayOfWeek.getValue - 1L // Monday = 0
        case "season" => (ldt.getMonthValue % 12) / 3L // DJF=0 MAM=1 ...
        case other => throw new IllegalArgumentException(
          s"unknown time field $other (year/month/day/hour/dayofyear/" +
            "dayofweek/season)")
      }
    }
    withPlan(
      template.copy(coords = template.coords +
        (dim -> NdArray.fromLongs(DType.I64, Array(derived.length), derived))),
      chunkSizes, splitVars, chunkDataset)
  }

  /** Grouped anomaly (xarray `ds.groupby(coord) − ds.groupby(coord)
    * .mean()` — de-seasonalization, the canonical climate normalizer):
    * each position subtracts ITS group's mean. One partial shuffle
    * builds the per-group means ([[groupbyCoordMean]]), which are small
    * by construction (groups are seasons/months/classes) and broadcast;
    * the subtraction is then chunk-local — the full dataset never
    * reshuffles. The original dim, chunking, and coordinate survive. */
  def groupbyCoordAnomaly(dim: String, skipna: Boolean = true): XbeamDataset = {
    require(!splitVars, "groupbyCoordAnomaly needs whole-variable chunks " +
      "(consolidate variables first)")
    val (bucketOf, _) = coordGroups(dim)
    val reduced = groupbyCoordMean(dim, skipna)
    val threshold = spark.conf
      .get("spark.graft.zipReduced.broadcastBytes", (512L << 20).toString).toLong
    require(reduced.template.nbytes <= threshold,
      s"grouped means (${reduced.template.nbytes} B) exceed " +
        s"spark.graft.zipReduced.broadcastBytes=$threshold — a group axis " +
        "this large wants the co-partitioned run-split zip; rechunk or " +
        "raise the bound")
    val d = dim
    // (cross-dim key, group) -> that group's mean chunk
    val meansByKey: Map[(String, Long), ArrayChunk] =
      reduced.chunkDataset.collect().map { case (k, c) =>
        (ChunkKey(k.offsets - d, None).canonical,
          k.offsets.getOrElse(d, 0L)) -> c
      }.toMap
    val bcMeans = spark.sparkContext.broadcast(meansByKey)
    val bcGroups = spark.sparkContext.broadcast(bucketOf)
    val merged = template.copy(vars = template.vars.map { case (n, vs) =>
      n -> VarSpec(vs.dims, if (vs.dims.contains(d)) DType.F64 else vs.dtype)
    })
    withPlan(merged, chunkSizes, splitVars, chunkDataset.map { p: Pair =>
      val (key, chunk) = p
      val groups = bcGroups.value
      val off = key.offsets.getOrElse(d, 0L).toInt
      val crossKey = ChunkKey(key.offsets - d, None).canonical
      (key, ArrayChunk(chunk.vars.map { case (n, va) =>
        if (!va.dims.contains(d)) n -> va
        else {
          val ax = va.dims.indexOf(d)
          val ext = va.arr.shape(ax)
          val out = NdArray.zeros(DType.F64, va.arr.shape)
          val crossAxes = (0 until va.arr.ndim).filter(_ != ax).toArray
          var i0 = 0
          while (i0 < ext) { // equal-group runs subtract one mean slice
            val g = groups(off + i0)
            var i1 = i0 + 1
            while (i1 < ext && groups(off + i1) == g) i1 += 1
            val mc = bcMeans.value.getOrElse((crossKey, g.toLong),
              throw new IllegalStateException(
                s"no grouped mean covers ($crossKey, group $g)"))
            val mv = mc.vars(n).arr // extent 1 at ax: squeeze for broadcast
            val meanSq = NdArray(mv.dtype,
              crossAxes.map(va.arr.shape), mv.data)
            val st = Array.fill(va.arr.ndim)(0); st(ax) = i0
            val ln = va.arr.shape.clone(); ln(ax) = i1 - i0
            out.insert(st,
              va.arr.slice(st, ln).zipBroadcastF64(meanSq, crossAxes)(_ - _))
            i0 = i1
          }
          n -> VarArray(va.dims, out)
        }
      }))
    })
  }

  /** Plan-time group resolution for [[groupbyCoordMean]]: each position
    * along `dim` maps to the index of its coordinate value in the
    * sorted-distinct value list; that list (original dtype) becomes the
    * output coordinate. Integer, datetime, and float coords supported;
    * float coords must be NaN-free (a NaN group label is unordered). */
  /** Exact per-(bucket, kept-cell) (min, max) bounds in ONE traversal
    * — the bounds stage of [[groupbyCoordApproxQuantile]]. Same run
    * slicing as [[bucketReduceCoreKeyed]], but min and max partials
    * ride the same tuples and the merged result assembles driver-side
    * into full (bucket × kept) arrays per variable (the size class
    * [[groupbyCoordAnomaly]] already collects and broadcasts). Cells no
    * data reaches stay NaN. */
  private def bucketBoundsCollect(dim: String, bucketOf: Array[Int],
                                  nBuckets: Int, skipna: Boolean)
      : (Map[String, VarArray], Map[String, VarArray]) = {
    import ChunkTransforms.ReduceAcc
    implicit val accEnc =
      Encoders.kryo[(ChunkKey, ReduceAcc, ReduceAcc)]
    val bc = spark.sparkContext.broadcast(bucketOf)
    val d = dim
    val partials = chunkDataset.flatMap { p: Pair =>
      val (k, c) = p
      val off = k.offsets.getOrElse(d, 0L).toInt
      val touched = c.vars.filter(_._2.dims.contains(d))
      val ext = touched.headOption.map { case (_, va) =>
        va.arr.shape(va.dims.indexOf(d))
      }.getOrElse(0)
      val buckets = bc.value
      val outs = scala.collection.mutable.ArrayBuffer
        .empty[(ChunkKey, ReduceAcc, ReduceAcc)]
      var i0 = 0
      while (i0 < ext) {
        val b = buckets(off + i0)
        var i1 = i0 + 1
        while (i1 < ext && buckets(off + i1) == b) i1 += 1
        val sliced = ArrayChunk(touched.map { case (n, va) =>
          val ax = va.dims.indexOf(d)
          val st = Array.fill(va.arr.ndim)(0); st(ax) = i0
          val ln = va.arr.shape.clone(); ln(ax) = i1 - i0
          n -> VarArray(va.dims, va.arr.slice(st, ln))
        })
        outs += ((k.copy(offsets = k.offsets - d + (d -> b.toLong)),
          ReduceAcc.ofChunk(sliced, Set(d), "min", skipna),
          ReduceAcc.ofChunk(sliced, Set(d), "max", skipna)))
        i0 = i1
      }
      outs.iterator
    }
    val merged = partials
      .groupByKey { t: (ChunkKey, ReduceAcc, ReduceAcc) => t._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, ReduceAcc, ReduceAcc),
                       b: (ChunkKey, ReduceAcc, ReduceAcc)) =>
        (a._1, a._2.merge(b._2), a._3.merge(b._3))
      }
      .map { kv: (String, (ChunkKey, ReduceAcc, ReduceAcc)) => kv._2 }
      .collect()
    // assemble full (bucket x kept) arrays per variable, NaN-filled
    def assemble(pick: ((ChunkKey, ReduceAcc, ReduceAcc)) => ReduceAcc)
        : Map[String, VarArray] = {
      val out = scala.collection.mutable.Map[String, VarArray]()
      merged.foreach { t =>
        val key = t._1
        pick(t).extract.vars.foreach { case (n, va) =>
          val fullDims = template.vars(n).dims
          val full = out.getOrElseUpdate(n, {
            val shape = fullDims.map { dd =>
              if (dd == d) nBuckets else template.dimSizes(dd).toInt
            }.toArray
            VarArray(fullDims, NdArray.fill(DType.F64, shape, Double.NaN))
          })
          // re-insert the reduced axis (extent 1) for the insert
          val ax = fullDims.indexOf(d)
          val shape1 = new Array[Int](va.arr.ndim + 1)
          var j = 0
          while (j < shape1.length) {
            shape1(j) =
              if (j < ax) va.arr.shape(j)
              else if (j == ax) 1
              else va.arr.shape(j - 1)
            j += 1
          }
          val starts = fullDims.map(dd => key.offsets.getOrElse(dd, 0L).toInt).toArray
          full.arr.insert(starts, NdArray(DType.F64, shape1, va.arr.data))
        }
      }
      out.toMap
    }
    (assemble(_._2), assemble(_._3))
  }

  private def coordGroups(dim: String): (Array[Int], NdArray) = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"groupby needs a coordinate on $dim"))
    coord.dtype match {
      case DType.I64 | DType.TimeNs =>
        val vs = coord.toLongs
        val distinct = vs.distinct.sorted
        val idx = distinct.zipWithIndex.toMap
        (vs.map(idx), NdArray.fromLongs(coord.dtype,
          Array(distinct.length), distinct))
      case DType.F64 =>
        val vs = coord.toDoubles
        require(!vs.exists(_.isNaN),
          s"groupby coord on $dim contains NaN — drop or fill it first")
        val distinct = vs.distinct.sorted
        val idx = distinct.zipWithIndex.toMap
        (vs.map(idx), NdArray.fromDoubles(DType.F64,
          Array(distinct.length), distinct))
      case other => throw new IllegalArgumentException(
        s"groupby coord on $dim has unsupported dtype ${other.zarr}")
    }
  }

  /** The shared bucketed-reduction machinery behind [[resampleMean]] /
    * [[resampleReduce]] (contiguous calendar runs) and
    * [[groupbyCoordMean]] / [[groupbyCoordReduce]] (arbitrary,
    * interleaved groups): `bucketOf(i)` names position i's output
    * bucket, chunks reduce their equal-bucket RUNS locally (interleaved
    * groups just produce several runs per bucket — the keyed merge
    * combines them), and one shuffle of fixed-size partials builds the
    * nBuckets-long output dim carrying `outCoord`. */
  private def bucketReduceCore[A](dim: String, bucketOf: Array[Int],
                                  outCoord: NdArray,
                                  accOf: ArrayChunk => A,
                                  mergeA: (A, A) => A,
                                  extractA: A => ArrayChunk,
                                  emptyA: A)(
      implicit accEnc: org.apache.spark.sql.Encoder[(ChunkKey, A, ArrayChunk)]): XbeamDataset =
    bucketReduceCoreKeyed[A](dim, bucketOf, outCoord,
      (_, sliced) => accOf(sliced), mergeA, extractA, emptyA)

  /** [[bucketReduceCore]] with the OUTPUT bucket key in the slicer —
    * the key carries the chunk's kept offsets plus the bucket id as
    * `dim`'s offset, which is what a per-(group, cell) combiner (the
    * grouped approx-quantile histogram) needs to index its broadcast
    * side. */
  private def bucketReduceCoreKeyed[A](dim: String, bucketOf: Array[Int],
                                  outCoord: NdArray,
                                  accOf: (ChunkKey, ArrayChunk) => A,
                                  mergeA: (A, A) => A,
                                  extractA: A => ArrayChunk,
                                  emptyA: A)(
      implicit accEnc: org.apache.spark.sql.Encoder[(ChunkKey, A, ArrayChunk)]): XbeamDataset = {
    require(bucketOf.length == template.dimSizes(dim).toInt,
      s"bucket map length ${bucketOf.length} != dim size ${template.dimSizes(dim)}")
    val nBuckets = outCoord.shape(0)
    val bc = spark.sparkContext.broadcast(bucketOf)
    val d = dim
    val partials = chunkDataset.flatMap { p: Pair =>
      val (k, c) = p
      val off = k.offsets.getOrElse(d, 0L).toInt
      val (touched, untouched) = c.vars.partition(_._2.dims.contains(d))
      val ext = touched.headOption.map { case (_, va) =>
        va.arr.shape(va.dims.indexOf(d))
      }.getOrElse(0)
      val buckets = bc.value
      if (ext == 0) {
        // replica chunk with no dim-spanning vars: carry passthrough once
        Iterator.single((k.copy(offsets = k.offsets - d +
          (d -> buckets(off).toLong)), emptyA, ArrayChunk(untouched)))
      } else {
        val outs = scala.collection.mutable.ArrayBuffer
          .empty[(ChunkKey, A, ArrayChunk)]
        var i0 = 0
        while (i0 < ext) {
          val b = buckets(off + i0)
          var i1 = i0 + 1
          while (i1 < ext && buckets(off + i1) == b) i1 += 1
          val sliced = ArrayChunk(touched.map { case (n, va) =>
            val ax = va.dims.indexOf(d)
            val st = Array.fill(va.arr.ndim)(0); st(ax) = i0
            val ln = va.arr.shape.clone(); ln(ax) = i1 - i0
            n -> VarArray(va.dims, va.arr.slice(st, ln))
          })
          val nk = k.copy(offsets = k.offsets - d + (d -> b.toLong))
          outs += ((nk, accOf(nk, sliced), ArrayChunk(untouched)))
          i0 = i1
        }
        outs.iterator
      }
    }
    val varDims: Map[String, Seq[String]] =
      template.vars.map { case (n, vs) => n -> vs.dims }
    val joined = partials
      .groupByKey { t: (ChunkKey, A, ArrayChunk) => t._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, A, ArrayChunk),
                       b: (ChunkKey, A, ArrayChunk)) =>
        (a._1, mergeA(a._2, b._2), a._3) // passthrough replicas: keep one
      }
      .map { kv: (String, (ChunkKey, A, ArrayChunk)) =>
        val (k, acc, pass) = kv._2
        // re-insert the dim axis (extent 1) so output chunks keep their
        // variables' full dim order
        (k, ArrayChunk(extractA(acc).vars.map { case (n, va) =>
          val dims = varDims(n)
          val ax = dims.indexOf(d)
          val shape2 = new Array[Int](va.arr.ndim + 1)
          var j = 0
          while (j < shape2.length) {
            shape2(j) =
              if (j < ax) va.arr.shape(j)
              else if (j == ax) 1
              else va.arr.shape(j - 1)
            j += 1
          }
          n -> VarArray(dims, NdArray(DType.F64, shape2, va.arr.data))
        } ++ pass.vars))
      }
    val newTemplate = Template(
      template.dims.map { case (dd, s) =>
        dd -> (if (dd == d) nBuckets.toLong else s)
      },
      template.vars.map { case (n, vs) =>
        n -> VarSpec(vs.dims,
          if (vs.dims.contains(d)) DType.F64 else vs.dtype)
      },
      (template.coords - d) + (d -> outCoord),
      template.attrs)
    withPlan(newTemplate, chunkSizes + (d -> 1), splitVars, joined)
  }

  /** Trapezoidal integral along `dim` against its coordinate (xarray
    * `integrate(dim)`): Σ (v[i] + v[i+1])/2 · (c[i+1] − c[i]),
    * collapsing the dim. One halo-1 exchange turns each position into
    * its interval's area chunk-locally; the per-chunk areas then sum
    * through the ordinary partial-reduction shuffle — data crosses
    * the wire only as 1-sliver halos and (sum) partials. */
  def integrate(dim: String): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"integrate needs a coordinate on $dim"))
    require(coord.dtype == DType.F64,
      s"integrate needs a float64 coordinate on $dim, got ${coord.dtype.zarr}")
    val c = coord.toDoubles
    require(c.length == template.dimSizes(dim),
      s"coordinate length ${c.length} != dim size ${template.dimSizes(dim)}")
    val deltas = Array.tabulate(c.length - 1)(i => c(i + 1) - c(i))
    val bc = spark.sparkContext.broadcast(deltas)
    mapWithHaloAt(dim, 1) { (joined, ax, skip, off) =>
      joined.trapezoidAlong(ax, skip, off, bc.value)
    }.sum(Set(dim), skipna = false)
  }

  /** Cumulative trapezoidal integral along `dim` (xarray
    * `cumulative_integrate`): position i holds the integral from the
    * start of the coordinate to c[i] (0 at the first position) —
    * [[integrate]]'s per-interval areas fed through the [[cumsum]]
    * prefix scan instead of the sum reduction. Pure composition of two
    * existing primitives: one halo-1 exchange + one sliver scan. */
  def cumulativeIntegrate(dim: String): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"cumulative_integrate needs a coordinate on $dim"))
    require(coord.dtype == DType.F64,
      s"cumulative_integrate needs a float64 coordinate on $dim, got ${coord.dtype.zarr}")
    val c = coord.toDoubles
    require(c.length == template.dimSizes(dim),
      s"coordinate length ${c.length} != dim size ${template.dimSizes(dim)}")
    val deltas = Array.tabulate(c.length - 1)(i => c(i + 1) - c(i))
    val bc = spark.sparkContext.broadcast(deltas)
    mapWithHaloAt(dim, 1) { (joined, ax, skip, off) =>
      joined.trapezoidAlong(ax, skip, off, bc.value)
    }.cumsum(dim)
  }

  /** Value-binned mean (xarray `groupby_bins(by, bins).mean()`): cells
    * group by which bin of `edges` their `by`-variable value falls in
    * — [edges(i), edges(i+1)), last bin right-closed — and every
    * variable means over the grouped cells, collapsing all dims into
    * one output `bin` axis (left edges as its coordinate). Per chunk,
    * each bin reduces to (sum, count) partials behind a NaN mask, so
    * the one shuffle carries nBins partials per chunk, never data.
    * NaN `by` values (and NaN data) are excluded; empty bins yield
    * NaN. Requires every variable to span the `by` variable's dims. */
  def groupbyBinsMean(by: String, edges: Array[Double]): XbeamDataset = {
    import ChunkTransforms.MeanAcc
    import org.apache.spark.sql.Encoders
    implicit val accEnc = Encoders.kryo[(ChunkKey, MeanAcc)]
    val allDims = template.dimSizes.keySet
    groupbyBinsCore[MeanAcc](by, edges)(
      c => ChunkTransforms.sumCountChunk(c, allDims, skipna = true),
      (a, b) => a.merge(b), _.extract)
  }

  /** [[groupbyBinsMean]] generalized to the other reductions —
    * per-bin sum / min / max / count / prod / var / std (optionally
    * "var:<ddof>"), same masked-partial shuffle shape. */
  def groupbyBinsReduce(by: String, edges: Array[Double],
                        kind: String): XbeamDataset = {
    import ChunkTransforms.ReduceAcc
    import org.apache.spark.sql.Encoders
    implicit val accEnc = Encoders.kryo[(ChunkKey, ReduceAcc)]
    val allDims = template.dimSizes.keySet
    groupbyBinsCore[ReduceAcc](by, edges)(
      c => ReduceAcc.ofChunk(c, allDims, kind, skipna = true),
      (a, b) => a.merge(b), _.extract)
  }

  /** The shared bin machinery: per chunk, each bin's mask selects its
    * values (NaN elsewhere), a skipna partial accumulator reduces the
    * masked chunk, and ONE shuffle of per-(chunk, bin) partials — never
    * data — combines per bin. */
  private def groupbyBinsCore[A](by: String, edges: Array[Double])(
      partialOf: ArrayChunk => A, mergeF: (A, A) => A,
      extractF: A => ArrayChunk)(
      implicit accEnc: org.apache.spark.sql.Encoder[(ChunkKey, A)]): XbeamDataset = {
    require(!splitVars, "groupby_bins needs whole-variable chunks " +
      "(consolidate variables first)")
    require(template.vars.contains(by), s"unknown variable $by")
    require(edges.length >= 2 && edges.sliding(2).forall(p => p(0) < p(1)),
      s"bin edges must be strictly increasing, got ${edges.toSeq}")
    val byDims = template.vars(by).dims
    template.vars.foreach { case (n, vs) =>
      require(vs.dims == byDims,
        s"variable $n spans ${vs.dims}, but binning by $by needs $byDims")
    }
    import org.apache.spark.sql.Encoders
    val nBins = edges.length - 1
    val ed = edges
    val byName = by
    val partials = chunkDataset.flatMap { p: Pair =>
      val c = p._2
      val g = c.vars(byName).arr
      (0 until nBins).iterator.map { b =>
        val lo = ed(b)
        val hi = ed(b + 1)
        val last = b == nBins - 1
        val mask = g.mapF64(v =>
          if (!v.isNaN && v >= lo && (v < hi || (last && v == hi))) 1.0
          else Double.NaN)
        val masked = ArrayChunk(c.vars.map { case (n, va) =>
          n -> VarArray(va.dims,
            va.arr.zipF64(mask)((a, m) => if (m.isNaN) Double.NaN else a))
        })
        (ChunkKey(Map("bin" -> b.toLong), None), partialOf(masked))
      }
    }
    val out = partials
      .groupByKey { kv: (ChunkKey, A) => kv._1.canonical }(Encoders.STRING)
      .reduceGroups { (a: (ChunkKey, A), b: (ChunkKey, A)) =>
        (a._1, mergeF(a._2, b._2))
      }
      .map { kv: (String, (ChunkKey, A)) =>
        val (k, acc) = kv._2
        (k, ArrayChunk(extractF(acc).vars.map { case (n, va) =>
          n -> VarArray(Seq("bin"), NdArray(DType.F64, Array(1), va.arr.data))
        }))
      }
    val newTemplate = Template(
      Seq("bin" -> nBins.toLong),
      template.vars.map { case (n, _) => n -> VarSpec(Seq("bin"), DType.F64) },
      Map("bin" -> NdArray.fromDoubles(DType.F64, Array(nBins),
        edges.dropRight(1))),
      template.attrs)
    withPlan(newTemplate, Map("bin" -> 1), sv = false, out)
  }

  /** Interpolate onto a new coordinate grid along `dim` (xarray
    * `interp(dim=target)` / regridding, linear): each target position
    * resolves ON THE DRIVER to its bracketing source indices and
    * weight against the (strictly increasing, float64) dim coordinate;
    * each source chunk then ships ONLY the rows some output chunk
    * needs (≤ 2 rows per target — bounded by 2× the output size, and
    * exactly the aligned rows when grids align), and output chunks
    * assemble as (1−w)·row(i0) + w·row(i1). One gather shuffle of row
    * slivers; no data-sized exchange beyond it. Targets must lie
    * within the coordinate range (no extrapolation). */
  /** The validated, strictly increasing float64 coordinate on `dim`,
    * with the target-in-range check — shared by the interp modes. */
  private def interpCoord(dim: String, target: Array[Double]): Array[Double] = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"interp needs a coordinate on $dim"))
    require(coord.dtype == DType.F64,
      s"interp needs a float64 coordinate on $dim, got ${coord.dtype.zarr}")
    val src = coord.toDoubles
    val n = src.length
    require(n >= 2 && src.sliding(2).forall(p => p(0) < p(1)),
      s"interp requires a strictly increasing coordinate on $dim")
    require(target.length >= 1, "interp needs at least one target position")
    target.foreach(tc => require(tc >= src(0) && tc <= src(n - 1),
      s"interp target $tc outside coordinate range [${src(0)}, ${src(n - 1)}]"))
    src
  }

  /** Nearest-neighbor regrid onto `target` along `dim` (xarray
    * `interp(dim=target, method="nearest")`): each target resolves at
    * plan time to its closest source index (exact midpoint ties take
    * the lower coordinate), then the same bounded gather shuffle as
    * [[interpLinear]] ships exactly one source row per target. */
  def interpNearest(dim: String, target: Array[Double]): XbeamDataset = {
    val src = interpCoord(dim, target)
    val m = target.length
    val idx = new Array[Int](m)
    var j = 0
    while (j < m) {
      val tc = target(j)
      val hit = java.util.Arrays.binarySearch(src, tc)
      idx(j) =
        if (hit >= 0) hit
        else {
          val ins = -hit - 1 // first index with src > tc; in [1, n-1]
          if (tc - src(ins - 1) <= src(ins) - tc) ins - 1 else ins
        }
      j += 1
    }
    interpGather(dim, NdArray.fromDoubles(DType.F64, Array(m), target),
      idx, idx, new Array[Double](m))
  }

  /** [[interpNearest]] on a datetime64 coordinate (xarray
    * `interp(time=targets, method="nearest")`): targets are epoch ns;
    * bracketing and midpoint ties resolve in exact LONG arithmetic (ns
    * since epoch exceed double's 2^53 mantissa — a float64 detour
    * would mis-snap near ties), then the same bounded gather runs. */
  def interpNearest(dim: String, target: Array[Long]): XbeamDataset = {
    val src = interpCoordTime(dim, target)
    val m = target.length
    val idx = new Array[Int](m)
    var j = 0
    while (j < m) {
      val tc = target(j)
      val hit = java.util.Arrays.binarySearch(src, tc)
      idx(j) =
        if (hit >= 0) hit
        else {
          val ins = -hit - 1
          if (tc - src(ins - 1) <= src(ins) - tc) ins - 1 else ins
        }
      j += 1
    }
    interpGather(dim, NdArray.fromLongs(DType.TimeNs, Array(m), target),
      idx, idx, new Array[Double](m))
  }

  /** [[interpLinear]] on a datetime64 coordinate: bracketing in exact
    * LONG epoch-ns space; the weight divides the two small interval
    * DIFFERENCES (exact as doubles), never the absolute epoch value. */
  def interpLinear(dim: String, target: Array[Long]): XbeamDataset = {
    val src = interpCoordTime(dim, target)
    val m = target.length
    val i0 = new Array[Int](m)
    val i1 = new Array[Int](m)
    val wgt = new Array[Double](m)
    var j = 0
    while (j < m) {
      val tc = target(j)
      val hit = java.util.Arrays.binarySearch(src, tc)
      if (hit >= 0) { i0(j) = hit; i1(j) = hit; wgt(j) = 0.0 }
      else {
        val ins = -hit - 1
        i0(j) = ins - 1
        i1(j) = ins
        wgt(j) = (tc - src(ins - 1)).toDouble / (src(ins) - src(ins - 1)).toDouble
      }
      j += 1
    }
    interpGather(dim, NdArray.fromLongs(DType.TimeNs, Array(m), target),
      i0, i1, wgt)
  }

  /** The datetime twin of [[interpCoord]]: validated strictly
    * increasing epoch-ns coordinate with the in-range check. */
  private def interpCoordTime(dim: String, target: Array[Long]): Array[Long] = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"interp needs a coordinate on $dim"))
    require(coord.dtype == DType.TimeNs,
      s"time interp needs a datetime64 coordinate on $dim, got ${coord.dtype.zarr}")
    val src = coord.toLongs
    val n = src.length
    require(n >= 2 && src.sliding(2).forall(p => p(0) < p(1)),
      s"interp requires a strictly increasing coordinate on $dim")
    require(target.length >= 1, "interp needs at least one target position")
    target.foreach(tc => require(tc >= src(0) && tc <= src(n - 1),
      s"interp target $tc outside coordinate range [${src(0)}, ${src(n - 1)}]"))
    src
  }

  def interpLinear(dim: String, target: Array[Double]): XbeamDataset = {
    val src = interpCoord(dim, target)
    val m = target.length
    val i0 = new Array[Int](m)
    val i1 = new Array[Int](m)
    val wgt = new Array[Double](m)
    var j = 0
    while (j < m) {
      val tc = target(j)
      val hit = java.util.Arrays.binarySearch(src, tc)
      if (hit >= 0) { i0(j) = hit; i1(j) = hit; wgt(j) = 0.0 }
      else {
        val ins = -hit - 1 // first index with src > tc; >= 1 by range check
        i0(j) = ins - 1
        i1(j) = ins
        wgt(j) = (tc - src(ins - 1)) / (src(ins) - src(ins - 1))
      }
      j += 1
    }
    interpGather(dim, NdArray.fromDoubles(DType.F64, Array(m), target),
      i0, i1, wgt)
  }

  /** The shared bounded gather of the interp modes: each source chunk
    * ships only the rows some output chunk needs (≤ 2 per target), one
    * keyed shuffle; output rows assemble as (1−w)·row(i0) + w·row(i1)
    * (w = 0 → a pure gather). `outCoord` becomes the dim's new
    * coordinate (float64 grids and datetime64 targets both pass here). */
  private def interpGather(dim: String, outCoord: NdArray,
                           i0: Array[Int], i1: Array[Int],
                           wgt: Array[Double]): XbeamDataset = {
    val m = outCoord.shape(0)
    val outChunk = math.min(chunkSizes(dim), m)
    val d = dim
    val mT = m
    val bcI0 = spark.sparkContext.broadcast(i0)
    val bcI1 = spark.sparkContext.broadcast(i1)
    val bcW = spark.sparkContext.broadcast(wgt)
    import org.apache.spark.sql.Encoders
    implicit val contribEnc =
      Encoders.kryo[(String, ChunkKey, Array[Long], ArrayChunk)]
    // each source chunk emits, per output chunk, the distinct rows of
    // its own range that chunk's targets bracket
    val contribs = chunkDataset.flatMap { p: Pair =>
      val (k, c) = p
      val off = k.offsets.getOrElse(d, 0L)
      val (touched, untouched) = c.vars.partition(_._2.dims.contains(d))
      val ext = touched.headOption.map { case (_, va) =>
        va.arr.shape(va.dims.indexOf(d))
      }.getOrElse(0)
      if (ext == 0) Iterator.empty
      else {
        val a0 = bcI0.value
        val a1 = bcI1.value
        val byOc = scala.collection.mutable.Map
          .empty[Long, scala.collection.mutable.TreeSet[Int]]
        var jj = 0
        while (jj < a0.length) {
          val oc = (jj / outChunk).toLong
          var t = 0
          while (t < 2) {
            val pos = if (t == 0) a0(jj) else a1(jj)
            if (pos >= off && pos < off + ext)
              byOc.getOrElseUpdate(oc,
                scala.collection.mutable.TreeSet.empty[Int]) += (pos - off).toInt
            t += 1
          }
          jj += 1
        }
        byOc.iterator.map { case (oc, posSet) =>
          val local = posSet.toArray
          val gathered = ArrayChunk(touched.map { case (nm, va) =>
            nm -> VarArray(va.dims, va.arr.takeAlong(va.dims.indexOf(d), local))
          } ++ untouched)
          val outKey = k.copy(offsets = k.offsets + (d -> oc * outChunk))
          (outKey.canonical, outKey, local.map(p2 => p2 + off), gathered)
        }
      }
    }
    val outDs = contribs.groupByKey(_._1)(Encoders.STRING).mapGroups { (_, it) =>
      val items = it.toArray
      val key = items.head._2
      val ocStart = key.offsets.getOrElse(d, 0L)
      val ocLen = math.min(outChunk.toLong, mT - ocStart).toInt
      // global source position → (contribution index, row within it)
      val rowOf = scala.collection.mutable.Map.empty[Long, (Int, Int)]
      items.zipWithIndex.foreach { case ((_, _, poss, _), ci) =>
        poss.zipWithIndex.foreach { case (pos, ri) => rowOf(pos) = (ci, ri) }
      }
      val a0 = bcI0.value
      val a1 = bcI1.value
      val aw = bcW.value
      val touchedNames = items.head._4.vars.collect {
        case (nm, va) if va.dims.contains(d) => nm
      }.toSet
      val outVars = items.head._4.vars.map { case (nm, va0) =>
        if (!touchedNames(nm)) nm -> va0 // untouched replica: keep one
        else {
          val ax = va0.dims.indexOf(d)
          val outShape = va0.arr.shape.clone()
          outShape(ax) = ocLen
          val out = NdArray.zeros(DType.F64, outShape)
          def row(pos: Long): NdArray = {
            val (ci, ri) = rowOf(pos)
            val g = items(ci)._4.vars(nm).arr
            val st = new Array[Int](g.ndim)
            st(ax) = ri
            val ln = g.shape.clone()
            ln(ax) = 1
            g.slice(st, ln)
          }
          var q = 0
          while (q < ocLen) {
            val jj = (ocStart + q).toInt
            val w = aw(jj)
            val combined =
              if (w == 0.0) row(a0(jj)).mapF64(v => v)
              else row(a0(jj)).zipF64(row(a1(jj)))((a, b) => (1 - w) * a + w * b)
            val st = new Array[Int](out.ndim)
            st(ax) = q
            out.insert(st, combined)
            q += 1
          }
          nm -> VarArray(va0.dims, out)
        }
      }
      (key, ArrayChunk(outVars))
    }
    val newTemplate = Template(
      template.dims.map { case (dd, s) => dd -> (if (dd == d) m.toLong else s) },
      template.vars.map { case (nm, vs) =>
        nm -> VarSpec(vs.dims, if (vs.dims.contains(d)) DType.F64 else vs.dtype)
      },
      (template.coords - d) + (d -> outCoord),
      template.attrs)
    withPlan(newTemplate, chunkSizes + (d -> outChunk), splitVars, outDs)
  }

  /** Align onto a new coordinate along `dim` (xarray
    * `reindex(dim=target, method=…, tolerance=…)`): each target label
    * resolves to at most one source row — by exact match (the default),
    * or by `"nearest"` / `"ffill"`/`"pad"` / `"bfill"`/`"backfill"`
    * fill (which require a strictly increasing coordinate; `nearest`
    * midpoint ties take the LOWER label, matching [[interpNearest]]).
    * An inexact match farther than `tolerance` from its target — and
    * any unmatched label — fills NaN, xarray's miss semantics. The
    * label→position map resolves plan-time on the driver (coordinates
    * live in the template); data moves through the same bounded
    * gather-shuffle as [[interpLinear]] (≤ 1 row per target), plus
    * driver-built NaN filler chunks for output chunks whose labels are
    * ALL missing (they receive no contributions, so the driver
    * enumerates them — metadata only, the filler arrays materialize on
    * executors). `ffill`/`nearest` over a denser target grid is also
    * the upsampling half of resample (pandas `resample().ffill()`). */
  /** Align onto ANOTHER dataset's coordinate along `dim` (xarray
    * `reindex_like(other)`, one dim at a time): both coordinates are
    * plan-time template metadata, so this is exactly [[reindex]] onto
    * the other's labels — integer/datetime coords align in exact Long
    * space, float in double; mixed spaces reject loudly. */
  def reindexLike(other: XbeamDataset, dim: String,
                  method: String = "exact"): XbeamDataset = {
    val oc = other.template.coords.getOrElse(dim,
      throw new IllegalArgumentException(
        s"reindexLike: the other dataset has no coordinate on $dim"))
    val mine = template.coords.getOrElse(dim,
      throw new IllegalArgumentException(
        s"reindexLike: this dataset has no coordinate on $dim"))
    def isLong(dt: DType) = dt == DType.I64 || dt == DType.TimeNs
    (mine.dtype, oc.dtype) match {
      case (DType.F64, DType.F64) =>
        reindex(dim, oc.toDoubles, method)
      case (a, b) if isLong(a) && isLong(b) =>
        reindex(dim, oc.toLongs, method, Long.MaxValue)
      case (a, b) => throw new IllegalArgumentException(
        s"reindexLike: coordinate spaces differ on $dim " +
          s"(${a.zarr} vs ${b.zarr})")
    }
  }

  /** Interpolate onto ANOTHER dataset's float64 coordinate along `dim`
    * (xarray `interp_like(other)`, one dim at a time) — the other's
    * plan-time labels feed [[interpLinear]]'s bounded two-row gather. */
  def interpLike(other: XbeamDataset, dim: String): XbeamDataset = {
    val oc = other.template.coords.getOrElse(dim,
      throw new IllegalArgumentException(
        s"interpLike: the other dataset has no coordinate on $dim"))
    require(oc.dtype == DType.F64,
      s"interpLike needs a float64 target coordinate on $dim, " +
        s"got ${oc.dtype.zarr}")
    interpLinear(dim, oc.toDoubles)
  }

  def reindex(dim: String, target: Array[Double],
              method: String = "exact",
              tolerance: Double = Double.PositiveInfinity): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"reindex needs a coordinate on $dim"))
    require(coord.dtype == DType.F64,
      s"reindex needs a float64 coordinate on $dim, got ${coord.dtype.zarr}")
    template.vars.foreach { case (n, vs) =>
      require(vs.dims.contains(dim),
        s"reindex($dim): variable $n does not span $dim (drop it first)")
    }
    val src = coord.toDoubles
    val byLabel = src.zipWithIndex.toMap
    require(byLabel.size == src.length,
      s"reindex requires distinct coordinate labels on $dim")
    val m = target.length
    require(m >= 1, "reindex needs at least one target label")
    require(tolerance >= 0.0, s"tolerance must be >= 0, got $tolerance")
    val posOf: Array[Int] = method match {
      case "exact" =>
        target.map(l => byLabel.get(l) match {
          case Some(p) => p
          case None => -1
        })
      case "nearest" | "ffill" | "pad" | "bfill" | "backfill" =>
        var i = 1
        while (i < src.length) {
          require(src(i - 1) < src(i),
            s"reindex(method=$method) needs a strictly increasing " +
              s"coordinate on $dim")
          i += 1
        }
        target.map { l =>
          // j = first source index with src(j) >= l
          var lo = 0
          var hi = src.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (src(mid) < l) lo = mid + 1 else hi = mid
          }
          val j = lo
          val pick = method match {
            case "ffill" | "pad" =>
              if (j < src.length && src(j) == l) j else j - 1
            case "bfill" | "backfill" => j
            case _ => // nearest: midpoint ties take the lower label
              if (j >= src.length) src.length - 1
              else if (j == 0 || src(j) == l) j
              else if (l - src(j - 1) <= src(j) - l) j - 1
              else j
          }
          if (pick < 0 || pick >= src.length) -1
          else if (math.abs(src(pick) - l) > tolerance) -1
          else pick
        }
      case other => throw new IllegalArgumentException(
        s"unknown reindex method $other " +
          "(exact/nearest/ffill/pad/bfill/backfill)")
    }
    reindexGather(dim, posOf,
      NdArray.fromDoubles(DType.F64, Array(m), target))
  }

  /** [[reindex]] onto integer or datetime64 labels (xarray
    * `reindex(time=[...])`): exact-match alignment in LONG label space
    * (epoch ns exceed double's 2^53 mantissa). Misses fill NaN. */
  def reindex(dim: String, target: Array[Long]): XbeamDataset =
    reindex(dim, target, "exact", Long.MaxValue)

  /** [[reindex(dim:String,target:Array[Long])*]] with a fill method and
    * tolerance (both in the coordinate's own integer units — ns for
    * datetime64 coords). */
  def reindex(dim: String, target: Array[Long], method: String,
              tolerance: Long): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"reindex needs a coordinate on $dim"))
    require(coord.dtype == DType.I64 || coord.dtype == DType.TimeNs,
      s"long-label reindex needs an int64/datetime64 coordinate on $dim, " +
        s"got ${coord.dtype.zarr}")
    template.vars.foreach { case (n, vs) =>
      require(vs.dims.contains(dim),
        s"reindex($dim): variable $n does not span $dim (drop it first)")
    }
    val src = coord.toLongs
    val byLabel = src.zipWithIndex.toMap
    require(byLabel.size == src.length,
      s"reindex requires distinct coordinate labels on $dim")
    val m = target.length
    require(m >= 1, "reindex needs at least one target label")
    require(tolerance >= 0L, s"tolerance must be >= 0, got $tolerance")
    val posOf: Array[Int] = method match {
      case "exact" =>
        target.map(l => byLabel.getOrElse(l, -1))
      case "nearest" | "ffill" | "pad" | "bfill" | "backfill" =>
        var i = 1
        while (i < src.length) {
          require(src(i - 1) < src(i),
            s"reindex(method=$method) needs a strictly increasing " +
              s"coordinate on $dim")
          i += 1
        }
        target.map { l =>
          var lo = 0
          var hi = src.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (src(mid) < l) lo = mid + 1 else hi = mid
          }
          val j = lo
          val pick = method match {
            case "ffill" | "pad" =>
              if (j < src.length && src(j) == l) j else j - 1
            case "bfill" | "backfill" => j
            case _ => // nearest: midpoint ties take the lower label
              if (j >= src.length) src.length - 1
              else if (j == 0 || src(j) == l) j
              else if (l - src(j - 1) <= src(j) - l) j - 1
              else j
          }
          if (pick < 0 || pick >= src.length) -1
          // distance in exact long space; tolerance in the same units
          else if (math.abs(src(pick) - l) > tolerance) -1
          else pick
        }
      case other => throw new IllegalArgumentException(
        s"unknown reindex method $other " +
          "(exact/nearest/ffill/pad/bfill/backfill)")
    }
    reindexGather(dim, posOf,
      NdArray.fromLongs(coord.dtype, Array(m), target))
  }

  /** The shared gather behind the [[reindex]] label flavors: `posOf(j)`
    * names target j's resolved source position (−1 = NaN fill), and
    * `outCoord` becomes the dim's new coordinate.
    *
    * Dtype preservation matches xarray: when EVERY target position
    * resolves (no −1 — e.g. `drop_duplicates`, `sortby`, or a reindex
    * onto a label subset), the gather is a pure selection and each
    * variable keeps its original dtype (int64 stays int64). Only when
    * some position needs NaN fill do dim-spanning variables promote to
    * float64, exactly as xarray's reindex does. */
  private def reindexGather(dim: String, posOf: Array[Int],
                            outCoord: NdArray): XbeamDataset =
    reindexGatherOpt(dim, posOf, Some(outCoord))

  /** [[reindexGather]] without a replacement coordinate — for
    * position-selection operators on datasets that carry no coordinate
    * along `dim` ([[dropna]]): the dim's coord entry (if any) is
    * dropped rather than fabricated. */
  private def reindexGatherOpt(dim: String, posOf: Array[Int],
                               outCoord: Option[NdArray]): XbeamDataset = {
    val m = outCoord.map(_.shape(0)).getOrElse(posOf.length)
    val outChunk = math.min(chunkSizes(dim), m)
    val d = dim
    val mT = m
    val allResolved = posOf.forall(_ >= 0)
    val bcPos = spark.sparkContext.broadcast(posOf)
    import org.apache.spark.sql.Encoders
    implicit val contribEnc =
      Encoders.kryo[(String, ChunkKey, Array[Long], ArrayChunk)]
    val contribs = chunkDataset.flatMap { p: Pair =>
      val (k, c) = p
      val off = k.offsets.getOrElse(d, 0L)
      val (touched, _) = c.vars.partition(_._2.dims.contains(d))
      val ext = touched.headOption.map { case (_, va) =>
        va.arr.shape(va.dims.indexOf(d))
      }.getOrElse(0)
      if (ext == 0) Iterator.empty
      else {
        val pos = bcPos.value
        val byOc = scala.collection.mutable.Map
          .empty[Long, scala.collection.mutable.TreeSet[Int]]
        var jj = 0
        while (jj < pos.length) {
          val pp = pos(jj)
          if (pp >= off && pp < off + ext)
            byOc.getOrElseUpdate((jj / outChunk).toLong,
              scala.collection.mutable.TreeSet.empty[Int]) += (pp - off).toInt
          jj += 1
        }
        byOc.iterator.map { case (oc, posSet) =>
          val local = posSet.toArray
          val gathered = ArrayChunk(touched.map { case (nm, va) =>
            nm -> VarArray(va.dims, va.arr.takeAlong(va.dims.indexOf(d), local))
          } ++ c.vars.filterNot(_._2.dims.contains(d)))
          val outKey = k.copy(offsets = k.offsets + (d -> oc * outChunk))
          (outKey.canonical, outKey, local.map(p2 => p2 + off), gathered)
        }
      }
    }
    // output chunks whose targets are ALL missing get no contributions:
    // enumerate (missing oc) × (other-dim chunk grid) on the driver and
    // materialize NaN fillers on executors
    val missingOcs = (0L until ((m + outChunk - 1) / outChunk).toLong).filter { oc =>
      val end = math.min((oc + 1) * outChunk, m.toLong).toInt
      ((oc * outChunk).toInt until end).forall(posOf(_) < 0)
    }
    val tmpl = template
    val cs = chunkSizes
    val fillers: Dataset[(String, ChunkKey, Array[Long], ArrayChunk)] =
      if (missingOcs.isEmpty)
        spark.emptyDataset[(String, ChunkKey, Array[Long], ArrayChunk)]
      else {
        val otherOrder = tmpl.dimOrder.filterNot(_ == d)
        val otherSizes = tmpl.dimSizes - d
        val otherChunks = cs.filter(kv => otherSizes.contains(kv._1))
        val perOc = ChunkGrid.totalChunks(otherChunks, otherSizes)
        val ocList = missingOcs.toArray
        val oCk = outChunk
        spark.range(perOc * ocList.length).map { i =>
          val oc = ocList((i / perOc).toInt)
          val otherKey = ChunkGrid.keyForIndex(i % perOc, otherOrder,
            otherChunks, otherSizes)
          val ocLen = math.min(oCk.toLong, mT - oc * oCk).toInt
          val key = otherKey.copy(offsets = otherKey.offsets + (d -> oc * oCk))
          val vars = tmpl.vars.map { case (nm, vs) =>
            val shape = vs.dims.map { dd =>
              if (dd == d) ocLen
              else math.min(cs(dd).toLong,
                otherSizes(dd) - otherKey.offsets.getOrElse(dd, 0L)).toInt
            }.toArray
            nm -> VarArray(vs.dims,
              if (vs.dims.contains(d)) NdArray.fill(DType.F64, shape, Double.NaN)
              else NdArray.fill(DType.F64, shape, Double.NaN))
          }
          (key.canonical, key, Array.empty[Long], ArrayChunk(vars))
        }
      }
    val outDs = contribs.union(fillers)
      .groupByKey(_._1)(Encoders.STRING).mapGroups { (_, it) =>
        val items = it.toArray
        val key = items.head._2
        val ocStart = key.offsets.getOrElse(d, 0L)
        val ocLen = math.min(outChunk.toLong, mT - ocStart).toInt
        if (items.forall(_._3.isEmpty)) (key, items.head._4) // pure filler
        else {
          val real = items.filter(_._3.nonEmpty)
          val rowOf = scala.collection.mutable.Map.empty[Long, (Int, Int)]
          real.zipWithIndex.foreach { case ((_, _, poss, _), ci) =>
            poss.zipWithIndex.foreach { case (pos, ri) => rowOf(pos) = (ci, ri) }
          }
          val pos = bcPos.value
          val outVars = real.head._4.vars.map { case (nm, va0) =>
            if (!va0.dims.contains(d)) nm -> va0
            else {
              val ax = va0.dims.indexOf(d)
              val outShape = va0.arr.shape.clone()
              outShape(ax) = ocLen
              val outDt = if (allResolved) va0.arr.dtype else DType.F64
              val out = NdArray.zeros(outDt, outShape)
              val nanShape = outShape.clone()
              nanShape(ax) = 1
              var q = 0
              while (q < ocLen) {
                val pp = pos((ocStart + q).toInt)
                val rowArr =
                  if (pp < 0 || !rowOf.contains(pp))
                    NdArray.fill(DType.F64, nanShape, Double.NaN)
                  else {
                    val (ci, ri) = rowOf(pp)
                    val g = real(ci)._4.vars(nm).arr
                    val st = new Array[Int](g.ndim)
                    st(ax) = ri
                    val ln = g.shape.clone()
                    ln(ax) = 1
                    val sl = g.slice(st, ln)
                    if (allResolved) sl else sl.mapF64(v => v)
                  }
                val st = new Array[Int](out.ndim)
                st(ax) = q
                out.insert(st, rowArr)
                q += 1
              }
              nm -> VarArray(va0.dims, out)
            }
          }
          (key, ArrayChunk(outVars))
        }
      }
    val newTemplate = Template(
      template.dims.map { case (dd, s) => dd -> (if (dd == d) m.toLong else s) },
      template.vars.map { case (nm, vs) =>
        nm -> VarSpec(vs.dims,
          if (vs.dims.contains(d) && !allResolved) DType.F64 else vs.dtype)
      },
      (template.coords - d) ++ outCoord.map(d -> _),
      template.attrs)
    withPlan(newTemplate, chunkSizes + (d -> outChunk), splitVars, outDs)
  }

  /** Plan-time upper bound on the bytes of one lane along `d`: the
    * chunk count along `d` × one full-size chunk of every variable. */
  private def scanLaneBytes(d: String): Long = {
    val chunkLen = chunkSizes(d).toLong
    val nChunks = (template.dimSizes(d) + chunkLen - 1) / chunkLen
    val chunkElems = template.dimOrder.map { dd =>
      math.min(chunkSizes(dd).toLong, template.dimSizes(dd))
    }.product
    nChunks * chunkElems * template.combinedItemsize(splitVars)
  }

  /** Plan-time upper bound on the total bytes of every per-chunk scan
    * sliver along `d` — the scan's whole seed state: chunk count × each
    * spanning variable's per-chunk lane cross-section × 8 (slivers are
    * F64) × `stackK` (stacked planes: (value, index) pairs, (min, max),
    * the ewm affine pair). Edge chunks count full-size, so the bound
    * only over-estimates. */
  private def scanSeedBytes(d: String, stackK: Int): Long = {
    val totalChunks = template.dimOrder.map { dd =>
      val c = math.max(1L, math.min(chunkSizes(dd).toLong, template.dimSizes(dd)))
      (template.dimSizes(dd) + c - 1) / c
    }.product
    val sliverBytes = template.vars.collect {
      case (_, vs) if vs.dims.contains(d) =>
        vs.dims.filterNot(_ == d).map { dd =>
          math.max(1L, math.min(chunkSizes(dd).toLong, template.dimSizes(dd)))
        }.product * 8L
    }.sum
    totalChunks * sliverBytes * stackK
  }

  /** Whether a scan's seeds may be collected and broadcast: they fit
    * the session's `spark.sql.autoBroadcastJoinThreshold` (with
    * broadcast disabled, -1, nothing fits). */
  private def seedsBroadcast(d: String, stackK: Int): Boolean =
    scanSeedBytes(d, stackK) <= spark.sessionState.conf.autoBroadcastJoinThreshold

  /** The lane scan of the cumulative family: every chunk gets the
    * EXCLUSIVE prefix of the per-lane slivers (`sliverVars`) of the
    * chunks before it in scan order (`reverse` scans from the end of
    * `dim`), folded left from `init` with `combine`, and `apply`
    * finishes the chunk with it (a lane's first chunk gets `init`).
    * Two routes, both the same left fold in the same order, so the
    * output bits never depend on the route:
    *  - [[fusedLaneScan]], one lane-sorted shuffle of chunk bodies,
    *    when a lane fits the session's
    *    `spark.sql.adaptive.advisoryPartitionSizeInBytes` (one task's
    *    worth of data), or when the seeds (`stackK` F64 planes per
    *    sliver, [[scanSeedBytes]]) do not fit [[seedsBroadcast]];
    *  - otherwise driver-seeded: collect the slivers, fold the seeds on
    *    the driver ([[XbeamDataset.driverScanSeeds]]), broadcast them
    *    and apply in a narrow map. Chunk bodies never move and every
    *    chunk keeps its own task; the source is evaluated twice (once
    *    for the slivers, once for the seeded apply).
    * Both bounds are only read; the library never sets them. */
  private def laneScan(dim: String, reverse: Boolean, stackK: Int)(
      sliverVars: (ChunkKey, ArrayChunk) => Map[String, VarArray],
      init: Array[Int] => NdArray,
      combine: (NdArray, NdArray) => NdArray,
      apply: (ChunkKey, ArrayChunk, Map[String, NdArray]) => ArrayChunk): Dataset[Pair] = {
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (scanLaneBytes(dim) <= advisory || !seedsBroadcast(dim, stackK))
      fusedLaneScan(dim, reverse)(sliverVars, init, combine, apply)
    else {
      val partials = chunkDataset.map { p: Pair =>
        (p._1, ArrayChunk(sliverVars(p._1, p._2)))
      }.filter { p: Pair => p._2.vars.nonEmpty }.collect()
      val bc = spark.sparkContext.broadcast(XbeamDataset.driverScanSeeds(
        partials, dim, reverse, init, combine))
      chunkDataset.map { p: Pair =>
        (p._1, apply(p._1, p._2,
          bc.value.getOrElse(p._1.canonical, Map.empty[String, NdArray])))
      }
    }
  }

  /** The two-direction lane scan of [[interpolateNa]]: `apply` gets each
    * chunk's exclusive forward prefix of the last-valid (value, index)
    * slivers (`prev`) and its exclusive reverse prefix of the
    * first-valid ones (`next`), both folded by overwrite-if-present.
    * When both directions' seeds fit [[seedsBroadcast]], one collect of
    * both slivers feeds two driver folds and `apply` runs in a narrow
    * map. Above the bound, two [[fusedLaneScan]]s: a forward one that
    * stashes each chunk's `prev` beside its variables, then a reverse
    * one that applies. Either way, the same two left folds. */
  private def laneScanBothWays(d: String)(
      apply: (ChunkKey, ArrayChunk, Map[String, NdArray],
        Map[String, NdArray]) => ArrayChunk): Dataset[Pair] = {
    val nanInit: Array[Int] => NdArray =
      shape => NdArray.fill(DType.F64, shape, Double.NaN)
    val lastOf = edgeSlivers(d, last = true)
    val firstOf = edgeSlivers(d, last = false)
    if (seedsBroadcast(d, stackK = 4)) {
      implicit val edgeEnc = Encoders.kryo[(ChunkKey, ArrayChunk, ArrayChunk)]
      val edges = chunkDataset.map { p: Pair =>
        (p._1, ArrayChunk(lastOf(p._1, p._2)), ArrayChunk(firstOf(p._1, p._2)))
      }.filter { t: (ChunkKey, ArrayChunk, ArrayChunk) => t._2.vars.nonEmpty }
        .collect()
      val bcF = spark.sparkContext.broadcast(XbeamDataset.driverScanSeeds(
        edges.map(t => (t._1, t._2)), d, reverse = false,
        nanInit, XbeamDataset.overwritePair))
      val bcR = spark.sparkContext.broadcast(XbeamDataset.driverScanSeeds(
        edges.map(t => (t._1, t._3)), d, reverse = true,
        nanInit, XbeamDataset.overwritePair))
      chunkDataset.map { p: Pair =>
        val none = Map.empty[String, NdArray]
        (p._1, apply(p._1, p._2, bcF.value.getOrElse(p._1.canonical, none),
          bcR.value.getOrElse(p._1.canonical, none)))
      }
    } else {
      val stash = "__prev__"
      val stashed = fusedLaneScan(d, reverse = false)(
        lastOf, nanInit, XbeamDataset.overwritePair,
        (_, c, prev) => ArrayChunk(c.vars ++ prev.map { case (n, s) =>
          (stash + n) -> VarArray("__s" +: c.vars(n).dims.filterNot(_ == d), s)
        }))
      withPlan(template, chunkSizes, splitVars, stashed)
        .fusedLaneScan(d, reverse = true)(
          firstOf, nanInit, XbeamDataset.overwritePair, (k, c, next) => {
            val (prev, own) = c.vars.partition(_._1.startsWith(stash))
            apply(k, ArrayChunk(own),
              prev.map { case (n, va) => n.stripPrefix(stash) -> va.arr }, next)
          })
    }
  }

  /** Per-lane stacked (value, global index) sliver of each chunk's last
    * (`last`) or first valid position along `d` — the scan state of the
    * limited fills and [[interpolateNa]]. */
  private def edgeSlivers(d: String, last: Boolean)
      : (ChunkKey, ArrayChunk) => Map[String, VarArray] =
    (k, c) => {
      val off = k.offsets.getOrElse(d, 0L)
      c.vars.collect {
        case (n, va) if va.dims.contains(d) =>
          n -> VarArray("__s" +: va.dims.filterNot(_ == d),
            va.arr.edgeValidWithIndexAlong(va.dims.indexOf(d), off, last))
      }
    }

  /** [[laneScan]]'s fused route: ONE shuffle of chunk bodies
    * partitioned by lane with a secondary sort on scan position; the
    * per-lane streaming fold computes each chunk's exclusive prefix on
    * the fly from the slivers of the chunks before it (`sliverVars`)
    * and applies it immediately (`apply`) — the source is read once,
    * and there is no separate sliver shuffle. One chunk plus one
    * sliver per lane is resident per task; everything else streams
    * through Spark's external sort, and a lane runs in one task. */
  private def fusedLaneScan(dim: String, reverse: Boolean)(
      sliverVars: (ChunkKey, ArrayChunk) => Map[String, VarArray],
      init: Array[Int] => NdArray,
      combine: (NdArray, NdArray) => NdArray,
      apply: (ChunkKey, ArrayChunk, Map[String, NdArray]) => ArrayChunk): Dataset[Pair] = {
    import org.apache.spark.sql.functions.col
    implicit val rowEnc: org.apache.spark.sql.Encoder[(String, Long, Pair)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong, pairEnc)
    val d = dim
    val rev = reverse
    chunkDataset.map { p: Pair =>
      val ord = if (rev) -p._1.offsets.getOrElse(d, 0L)
        else p._1.offsets.getOrElse(d, 0L)
      (p._1.copy(offsets = p._1.offsets - d).canonical, ord, p)
    }
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_2"))
      .mapPartitions { rows =>
        var lane: String = null
        var acc: Map[String, NdArray] = null
        rows.map { case (g, _, (k, c)) =>
          if (g != lane) { lane = g; acc = null }
          val slivers = sliverVars(k, c)
          if (acc == null && slivers.nonEmpty)
            acc = slivers.map { case (n, va) => n -> init(va.arr.shape) }
          val cur = acc
          if (slivers.nonEmpty)
            acc = slivers.map { case (n, va) => n -> combine(cur(n), va.arr) }
          (k, apply(k, c, if (cur == null) Map.empty[String, NdArray] else cur))
        }
      }(pairEnc)
  }

  /** [[laneScan]] for a per-variable monoid (the [[cumsum]] family):
    * `sliverOf` reduces a chunk to its lane-shaped sliver, `applySeed`
    * runs the chunk's own scan from its incoming prefix. Variables not
    * spanning `dim` pass through unchanged; outputs are F64. */
  private def prefixScanAlong(dim: String, reverse: Boolean = false)(
      sliverOf: (NdArray, Int) => NdArray,
      init: Array[Int] => NdArray,
      combine: (NdArray, NdArray) => NdArray,
      applySeed: (NdArray, Int, Option[NdArray]) => NdArray): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val d = dim
    val out = laneScan(d, reverse, stackK = 1)(
      (_, c) => c.vars.collect {
        case (n, va) if va.dims.contains(d) =>
          val ax = va.dims.indexOf(d)
          n -> VarArray(va.dims.filterNot(_ == d), sliverOf(va.arr, ax))
      },
      init, combine,
      (_, c, seeds) => ArrayChunk(c.vars.map { case (n, va) =>
        if (!va.dims.contains(d)) n -> va
        else {
          val ax = va.dims.indexOf(d)
          n -> VarArray(va.dims, applySeed(va.arr, ax, seeds.get(n)))
        }
      }))
    val newTemplate = template.copy(vars = template.vars.map { case (n, vs) =>
      n -> VarSpec(vs.dims, if (vs.dims.contains(dim)) DType.F64 else vs.dtype)
    })
    withPlan(newTemplate, chunkSizes, splitVars, out)
  }

  /** The generic halo-exchange primitive: prepend each chunk's trailing
    * `haloLen` elements along `dim` to its successor chunk, then run
    * `kernel(joined, axis, skip)` per dim-spanning variable, where
    * `joined` is halo+own concatenated along the dim and `skip` is the
    * halo extent actually present (0 for the first chunk; the kernel
    * must emit exactly the own extent). One co-partitioned shuffle
    * whose payload is halo slivers — `haloLen/chunk` of the data —
    * never chunk bodies. Variables not spanning `dim` pass through
    * untouched; outputs are F64. */
  def mapWithHalo(dim: String, haloLen: Int)
                 (kernel: (NdArray, Int, Int) => NdArray): XbeamDataset =
    mapWithHaloAt(dim, haloLen)((joined, ax, skip, _) => kernel(joined, ax, skip))

  /** [[mapWithHalo]] whose kernel also receives the chunk's global
    * offset along `dim` — for kernels that index plan-time per-position
    * metadata (e.g. coordinate spacings in [[integrate]]). */
  def mapWithHaloAt(dim: String, haloLen: Int)
                   (kernel: (NdArray, Int, Int, Long) => NdArray): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(haloLen >= 1 && haloLen <= chunkSizes(dim),
      s"halo $haloLen must be in [1, chunk ${chunkSizes(dim)}] for $dim " +
        "(rechunk larger along the dim first)")
    import ChunkTransforms.pairEnc
    import org.apache.spark.sql.Encoders
    implicit val taggedEnc = Encoders.kryo[(String, Boolean, Pair)]
    val d = dim
    val w = haloLen + 1 // legacy naming below: halo is w-1 elements
    val dimSize = template.dimSizes(dim)
    val tagged = chunkDataset.flatMap { p: Pair =>
      val (k, c) = p
      val off = k.offsets.getOrElse(d, 0L)
      val extent = c.vars.collectFirst {
        case (_, va) if va.dims.contains(d) => va.arr.shape(va.dims.indexOf(d))
      }.getOrElse(0)
      val own = (k.canonical, false, p)
      val nextOff = off + extent
      if (nextOff < dimSize && extent > 0) {
        // slice the trailing halo of the vars that span the dim (others
        // need no history and don't ship)
        val haloLen = math.min(w - 1, extent)
        val halo = ArrayChunk(c.vars.collect {
          case (n, va) if va.dims.contains(d) =>
            val ax = va.dims.indexOf(d)
            val starts = Array.fill(va.arr.ndim)(0)
            starts(ax) = extent - haloLen
            val lens = va.arr.shape.clone()
            lens(ax) = haloLen
            n -> VarArray(va.dims, va.arr.slice(starts, lens))
        })
        val nextKey = k.copy(offsets = k.offsets + (d -> nextOff))
        Seq(own, (nextKey.canonical, true, (k, halo)))
      } else Seq(own)
    }
    val out = tagged.groupByKey(_._1)(Encoders.STRING).mapGroups { (_, it) =>
      val items = it.toSeq
      val ownItems = items.filter(!_._2)
      require(ownItems.length == 1,
        s"rolling: expected exactly one own chunk per key, got ${ownItems.length}")
      val (key, ownChunk) = ownItems.head._3
      val haloOpt = items.find(_._2).map(_._3._2)
      val result = ArrayChunk(ownChunk.vars.map { case (n, va) =>
        if (!va.dims.contains(d)) n -> va
        else {
          val ax = va.dims.indexOf(d)
          val joined = haloOpt match {
            case Some(h) =>
              val ha = h.vars(n).arr
              val shape2 = va.arr.shape.clone()
              shape2(ax) += ha.shape(ax)
              val j = NdArray.zeros(va.arr.dtype, shape2)
              j.insert(Array.fill(shape2.length)(0), ha)
              val st = Array.fill(shape2.length)(0)
              st(ax) = ha.shape(ax)
              j.insert(st, va.arr)
              j
            case None => va.arr
          }
          val skip = haloOpt.map(_.vars(n).arr.shape(ax)).getOrElse(0)
          n -> VarArray(va.dims,
            kernel(joined, ax, skip, key.offsets.getOrElse(d, 0L)))
        }
      })
      (key, result)
    }
    val newTemplate = template.copy(vars = template.vars.map { case (n, vs) =>
      n -> VarSpec(vs.dims, if (vs.dims.contains(dim)) DType.F64 else vs.dtype)
    })
    withPlan(newTemplate, chunkSizes, splitVars, out)
  }

  /** Two-sided halo exchange: each chunk receives its PREDECESSOR's
    * trailing `haloLen` elements AND its SUCCESSOR's leading `haloLen`
    * elements along `dim`, then `kernel(joined, ax, skipPre, skipPost,
    * off)` runs per dim-spanning variable — `joined` is
    * preHalo ++ own ++ postHalo concatenated along the dim,
    * skipPre/skipPost the halo extents actually present (0 at the
    * global edges), `off` the chunk's global offset. One co-partitioned
    * shuffle whose payload is halo slivers from both sides — never
    * chunk bodies. The two-sided primitive behind central-difference
    * kernels ([[differentiate]]). */
  def mapWithHaloBothAt(dim: String, haloLen: Int)(
      kernel: (NdArray, Int, Int, Int, Long) => NdArray): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    require(haloLen >= 1 && haloLen <= chunkSizes(dim),
      s"halo $haloLen must be in [1, chunk ${chunkSizes(dim)}] for $dim " +
        "(rechunk larger along the dim first)")
    import ChunkTransforms.pairEnc
    import org.apache.spark.sql.Encoders
    implicit val taggedEnc = Encoders.kryo[(String, Int, Pair)]
    val d = dim
    val h = haloLen
    val dimSize = template.dimSizes(dim)
    val chunkLen = chunkSizes(d).toLong
    val tagged = chunkDataset.flatMap { p: Pair =>
      val (k, c) = p
      val off = k.offsets.getOrElse(d, 0L)
      val extent = c.vars.collectFirst {
        case (_, va) if va.dims.contains(d) => va.arr.shape(va.dims.indexOf(d))
      }.getOrElse(0)
      def edge(leading: Boolean) = ArrayChunk(c.vars.collect {
        case (n, va) if va.dims.contains(d) =>
          val ax = va.dims.indexOf(d)
          val len = math.min(h, extent)
          val starts = Array.fill(va.arr.ndim)(0)
          if (!leading) starts(ax) = extent - len
          val lens = va.arr.shape.clone()
          lens(ax) = len
          n -> VarArray(va.dims, va.arr.slice(starts, lens))
      })
      val own = Seq((k.canonical, 0, p))
      val toNext =
        if (off + extent < dimSize && extent > 0)
          Seq((k.copy(offsets = k.offsets + (d -> (off + extent))).canonical,
            1, (k, edge(leading = false))))
        else Nil
      val toPrev =
        if (off > 0 && extent > 0)
          Seq((k.copy(offsets = k.offsets + (d -> (off - chunkLen))).canonical,
            2, (k, edge(leading = true))))
        else Nil
      own ++ toNext ++ toPrev
    }
    val out = tagged.groupByKey(_._1)(Encoders.STRING).mapGroups { (_, it) =>
      val items = it.toSeq
      val ownItems = items.filter(_._2 == 0)
      require(ownItems.length == 1,
        s"halo2: expected exactly one own chunk per key, got ${ownItems.length}")
      val (key, ownChunk) = ownItems.head._3
      val preOpt = items.find(_._2 == 1).map(_._3._2)
      val postOpt = items.find(_._2 == 2).map(_._3._2)
      val result = ArrayChunk(ownChunk.vars.map { case (n, va) =>
        if (!va.dims.contains(d)) n -> va
        else {
          val ax = va.dims.indexOf(d)
          val pre = preOpt.map(_.vars(n).arr)
          val post = postOpt.map(_.vars(n).arr)
          val skipPre = pre.map(_.shape(ax)).getOrElse(0)
          val skipPost = post.map(_.shape(ax)).getOrElse(0)
          val joined = if (skipPre == 0 && skipPost == 0) va.arr else {
            val shape2 = va.arr.shape.clone()
            shape2(ax) += skipPre + skipPost
            val j = NdArray.zeros(va.arr.dtype, shape2)
            pre.foreach(j.insert(Array.fill(shape2.length)(0), _))
            val st = Array.fill(shape2.length)(0)
            st(ax) = skipPre
            j.insert(st, va.arr)
            post.foreach { pa =>
              val st2 = Array.fill(shape2.length)(0)
              st2(ax) = skipPre + va.arr.shape(ax)
              j.insert(st2, pa)
            }
            j
          }
          n -> VarArray(va.dims,
            kernel(joined, ax, skipPre, skipPost, key.offsets.getOrElse(d, 0L)))
        }
      })
      (key, result)
    }
    val newTemplate = template.copy(vars = template.vars.map { case (n, vs) =>
      n -> VarSpec(vs.dims, if (vs.dims.contains(dim)) DType.F64 else vs.dtype)
    })
    withPlan(newTemplate, chunkSizes, splitVars, out)
  }

  /** Derivative along `dim` against its coordinate (xarray
    * `differentiate(coord)`, numpy.gradient with edge_order=1):
    * second-order central differences in the interior, one-sided
    * first-order at the global edges. One two-sided halo-1 exchange —
    * only single-sliver halos cross the wire. Needs a float64
    * coordinate on `dim` (same contract as [[integrate]]). */
  def differentiate(dim: String): XbeamDataset = {
    require(template.dimSizes.contains(dim), s"unknown dim $dim")
    val coord = template.coords.getOrElse(dim, throw new IllegalArgumentException(
      s"differentiate needs a coordinate on $dim"))
    require(coord.dtype == DType.F64,
      s"differentiate needs a float64 coordinate on $dim, got ${coord.dtype.zarr}")
    val c = coord.toDoubles
    require(c.length == template.dimSizes(dim),
      s"coordinate length ${c.length} != dim size ${template.dimSizes(dim)}")
    require(c.length >= 2, "differentiate needs at least 2 positions")
    val bc = spark.sparkContext.broadcast(c)
    mapWithHaloBothAt(dim, 1) { (joined, ax, skipPre, skipPost, off) =>
      joined.gradientAlong(ax, skipPre, skipPost, off, bc.value)
    }
  }

  private def reduced(dims: Set[String], kind: String,
                      skipna: Boolean): XbeamDataset = {
    require(dims.subsetOf(template.dimSizes.keySet),
      s"$kind dims $dims not all in ${template.dimOrder}")
    val newTemplate = Template(
      template.dims.filterNot(d => dims(d._1)),
      template.vars.map { case (n, vs) =>
        // variables spanning none of the reduced dims pass through
        // unchanged (xarray semantics), keeping their dtype
        n -> VarSpec(vs.dims.filterNot(dims),
          if (vs.dims.exists(dims)) DType.F64 else vs.dtype)
      },
      template.coords -- dims, template.attrs)
    withPlan(newTemplate, chunkSizes -- dims, splitVars,
      ChunkTransforms.reduceDims(chunkDataset, dims, kind, skipna))
  }

  /** Mean with the reference's explicitly planned multi-stage combiner
    * tree (MultiStageMean / Dataset.mean, combiners.py:295-394,
    * dataset.py:1060-1103) — for extreme reduction ratios where one
    * reduce round would bottleneck on a single task. `binsPerStage`
    * defaults to the cost-model optimum (FanoutPlanner). */
  def meanMultiStage(dims: Set[String], skipna: Boolean = true,
                     binsPerStage: Option[Vector[Int]] = None): XbeamDataset = {
    require(dims.subsetOf(template.dimSizes.keySet),
      s"mean dims $dims not all in ${template.dimOrder}")
    val newTemplate = Template(
      template.dims.filterNot(d => dims(d._1)),
      template.vars.map { case (n, vs) =>
        n -> VarSpec(vs.dims.filterNot(dims), DType.F64)
      },
      template.coords -- dims, template.attrs)
    withPlan(newTemplate, chunkSizes -- dims, splitVars,
      ChunkTransforms.meanMultiStage(chunkDataset, dims, template.dimOrder,
        chunkSizes, template.dimSizes, template.combinedItemsize(splitVars),
        skipna, binsPerStage))
  }

  // ------------------------------------------------------------- joins

  /** Co-partitioned zip with an aligned dataset: the 2-way special case
    * of [[zipAll]]. */
  def zipWith(other: XbeamDataset)(f: (ArrayChunk, ArrayChunk) => ArrayChunk,
                                   merged: Template): XbeamDataset =
    zipAll(Seq(other))(cs => f(cs(0), cs(1)), merged)

  /** Element-wise three-way select across datasets (xarray
    * `xr.where(cond, a, b)` with `this` as `a`): wherever `cond`'s
    * variable is non-zero (and non-NaN) the output takes this
    * dataset's value, elsewhere `other`'s. All three sides must share
    * the grid (dims, sizes, chunks) and `this`/`other` the variable
    * set; `cond` contributes one mask variable applied to every
    * output variable. ONE co-partitioned zip shuffle — the select
    * itself is a narrow fold over the three aligned chunks. */
  def whereDs(cond: XbeamDataset, other: XbeamDataset,
              condVar: String = "mask"): XbeamDataset = {
    require(template.vars.keySet == other.template.vars.keySet,
      s"whereDs needs identical variables on both branches: " +
        s"${template.vars.keySet} vs ${other.template.vars.keySet}")
    require(cond.template.vars.contains(condVar),
      s"cond side has no variable $condVar (has ${cond.template.vars.keySet})")
    val cv = condVar
    val merged = template.copy(vars = template.vars.map { case (n, vs) =>
      n -> VarSpec(vs.dims, DType.F64)
    })
    zipAll(Seq(cond, other))({ cs =>
      val Seq(a, c, b) = cs
      val maskVa = c.vars(cv)
      ArrayChunk(a.vars.map { case (n, va) =>
        val bv = b.vars(n).arr
        require(va.dims == maskVa.dims && va.dims == b.vars(n).dims,
          s"whereDs: variable $n and mask $cv must share dims " +
            s"(${va.dims} vs ${maskVa.dims} vs ${b.vars(n).dims})")
        val mask = maskVa.arr
        val out = NdArray.zeros(DType.F64, va.arr.shape.clone())
        val sz = out.size
        var i = 0L
        while (i < sz) {
          val m = mask.getDouble(i)
          out.setDouble(i,
            if (m.isNaN || m == 0.0) bv.getDouble(i) else va.arr.getDouble(i))
          i += 1
        }
        n -> VarArray(va.dims, out)
      })
    }, merged)
  }

  /** Fill this dataset's NaN holes from `other` (xarray
    * `Dataset.combine_first`): self wins wherever it has a value,
    * `other` supplies the rest; variables present on only one side
    * pass through, so the output carries the variable UNION. Same
    * aligned-grid contract as [[whereDs]]/[[merge]] (dims, sizes, and
    * chunks must agree — [[align]]/[[rechunk]] first) and the same
    * plan: ONE co-partitioned zip shuffle, the fill a narrow fold.
    * Integer variables cannot hold NaN, so shared integer variables
    * pass self through untouched (dtype preserved); shared float
    * variables fill at the wider of the two float dtypes. */
  def combineFirst(other: XbeamDataset): XbeamDataset = {
    require(!splitVars && !other.splitVars,
      "combineFirst needs consolidated variables on both sides")
    val shared = template.vars.keySet intersect other.template.vars.keySet
    shared.foreach { n =>
      require(template.vars(n).dims == other.template.vars(n).dims,
        s"combineFirst: variable $n has dims ${template.vars(n).dims} vs " +
          s"${other.template.vars(n).dims}")
    }
    def outType(n: String): DType = {
      val a = template.vars(n).dtype
      if (a != DType.F32 && a != DType.F64) a // ints can't hold NaN
      else if (a == DType.F64 || other.template.vars(n).dtype == DType.F64)
        DType.F64
      else DType.F32
    }
    val merged = template.copy(vars =
      template.vars.map { case (n, vs) =>
        n -> (if (shared(n)) VarSpec(vs.dims, outType(n)) else vs)
      } ++ other.template.vars.filterNot(kv => template.vars.contains(kv._1)))
    val sharedFloat = shared.filter(n =>
      template.vars(n).dtype == DType.F32 ||
        template.vars(n).dtype == DType.F64)
    val outTypes = sharedFloat.iterator.map(n => n -> outType(n)).toMap
    zipWith(other)({ (a, b) =>
      ArrayChunk(
        a.vars.map { case (n, va) =>
          if (!sharedFloat(n)) n -> va
          else {
            val bv = b.vars(n).arr
            val out = NdArray.zeros(outTypes(n), va.arr.shape.clone())
            val sz = out.size
            var i = 0L
            while (i < sz) {
              val v = va.arr.getDouble(i)
              out.setDouble(i, if (v.isNaN) bv.getDouble(i) else v)
              i += 1
            }
            n -> VarArray(va.dims, out)
          }
        } ++ b.vars.filterNot(kv => a.vars.contains(kv._1))
      )
    }, merged)
  }

  /** 3-vector cross product along `dim` (xarray `xr.cross(a, b,
    * dim=...)` for the size-3 case): per cell of the other dims,
    * c = a × b of the two 3-component vectors. `dim` must be size 3
    * and unchunked (a 3-extent dim always is), so the product is
    * chunk-local: ONE co-partitioned zip shuffle, then three
    * fused-multiply-subtract slices per variable reassemble in place —
    * no shuffle grows with the vector field's size. Same aligned-grid
    * contract as [[whereDs]]. */
  def cross(other: XbeamDataset, dim: String): XbeamDataset = {
    require(template.dimSizes.get(dim).contains(3L) &&
      other.template.dimSizes.get(dim).contains(3L),
      s"cross needs dim $dim of size 3 on both sides " +
        s"(got ${template.dimSizes.get(dim)} vs " +
        s"${other.template.dimSizes.get(dim)})")
    require(chunkSizes.get(dim).forall(_ == 3),
      s"cross needs dim $dim unchunked (chunk size 3) — rechunk first")
    require(template.vars.keySet == other.template.vars.keySet,
      s"cross needs identical variables on both sides: " +
        s"${template.vars.keySet} vs ${other.template.vars.keySet}")
    template.vars.foreach { case (n, vs) =>
      require(vs.dims.contains(dim),
        s"cross: variable $n does not span $dim")
      require(vs.dims == other.template.vars(n).dims,
        s"cross: variable $n has dims ${vs.dims} vs " +
          s"${other.template.vars(n).dims}")
    }
    val d = dim
    val merged = template.copy(vars = template.vars.map { case (n, vs) =>
      n -> VarSpec(vs.dims, DType.F64)
    })
    zipWith(other)({ (a, b) =>
      ArrayChunk(a.vars.map { case (n, va) =>
        val ax = va.dims.indexOf(d)
        val vb = b.vars(n).arr
        def comp(arr: NdArray, k: Int): NdArray = {
          val starts = new Array[Int](arr.ndim); starts(ax) = k
          val shp = arr.shape.clone(); shp(ax) = 1
          arr.slice(starts, shp)
        }
        def fms(x: NdArray, y: NdArray, u: NdArray, v: NdArray): NdArray =
          x.zipF64(y)(_ * _).zipF64(u.zipF64(v)(_ * _))(_ - _)
        val (a0, a1, a2) = (comp(va.arr, 0), comp(va.arr, 1), comp(va.arr, 2))
        val (b0, b1, b2) = (comp(vb, 0), comp(vb, 1), comp(vb, 2))
        val outShape = va.arr.shape.clone()
        val out = NdArray.zeros(DType.F64, outShape)
        val at = new Array[Int](out.ndim)
        at(ax) = 0; out.insert(at.clone(), fms(a1, b2, a2, b1))
        at(ax) = 1; out.insert(at.clone(), fms(a2, b0, a0, b2))
        at(ax) = 2; out.insert(at.clone(), fms(a0, b1, a1, b0))
        n -> VarArray(va.dims, out)
      })
    }, merged)
  }

  /** Combine two disjoint-variable datasets on the SAME grid into one
    * (xarray `xr.merge` for the aligned case): one co-partitioned zip
    * shuffle unites the chunk pairs, variables concatenate per chunk.
    * Dims, sizes, and chunk grids must already agree — align first
    * ([[align]]) when they don't. */
  def merge(other: XbeamDataset): XbeamDataset = {
    require(!splitVars && !other.splitVars,
      "merge needs consolidated variables on both sides")
    val overlap = template.vars.keySet intersect other.template.vars.keySet
    require(overlap.isEmpty,
      s"merge requires disjoint variable sets, both sides have $overlap")
    (template.coords.keySet intersect other.template.coords.keySet)
      .foreach { d =>
        val ca = template.coords(d)
        val cb = other.template.coords(d)
        require(ca.dtype == cb.dtype && ca.shape.sameElements(cb.shape) &&
          ca.data.sameElements(cb.data),
          s"merge: coordinate $d differs between sides (align first)")
      }
    zipWith(other)((ca, cb) => ArrayChunk(ca.vars ++ cb.vars),
      Template(template.dims, template.vars ++ other.template.vars,
        template.coords ++ other.template.coords,
        template.attrs ++ other.template.attrs))
  }

  /** Align two datasets onto a common coordinate along `dim` (xarray
    * `xr.align(join=…)`): the joined label set — union for "outer",
    * intersection for "inner", one side's labels for "left"/"right" —
    * resolves PLAN-TIME from the template coordinates, then each side
    * [[reindex]]es onto it (missing labels fill NaN). A side whose
    * labels already equal the joined set passes through untouched —
    * so left-aligning a small dataset against a 100 TB one never
    * moves the big side's chunks. */
  def align(other: XbeamDataset, dim: String,
            join: String = "outer"): (XbeamDataset, XbeamDataset) = {
    def labelsOf(ds: XbeamDataset): Array[Double] = {
      val c = ds.template.coords.getOrElse(dim,
        throw new IllegalArgumentException(
          s"align needs a coordinate on $dim on both sides"))
      require(c.dtype == DType.F64,
        s"align needs a float64 coordinate on $dim, got ${c.dtype.zarr}")
      c.toDoubles
    }
    val la = labelsOf(this)
    val lb = labelsOf(other)
    val joined: Array[Double] = join match {
      case "outer" => (la ++ lb).distinct.sorted
      case "inner" => val bs = lb.toSet; la.filter(bs).sorted
      case "left" => la
      case "right" => lb
      case o => throw new IllegalArgumentException(
        s"unknown align join $o (outer/inner/left/right)")
    }
    require(joined.nonEmpty, s"align($join) yields an empty label set on $dim")
    def side(ds: XbeamDataset, own: Array[Double]): XbeamDataset =
      if (own.sameElements(joined)) ds else ds.reindex(dim, joined)
    (side(this, la), side(other, lb))
  }

  /** N-way co-partitioned zip over aligned datasets — the multi-dataset
    * DatasetToChunks (core.py:474-502): every dataset must span the
    * SAME dims with the same sizes and chunk grid, and chunks line up
    * by position. `f` receives the aligned chunks in argument order
    * (this dataset first), exactly the reference's
    * `(key, [ds1_chunk, ds2_chunk, ...])` element shape. (The
    * reference additionally accepts dim-SUBSET datasets, broadcasting
    * their chunks across the missing dims — not supported here; the
    * same effect is a mapBlocks that attaches the broadcastable data.)
    *
    * One shuffle total: all sides union into a single keyed dataset
    * (tagged with their argument position) and group on the
    * deterministic canonical key, so Spark hash-partitions every side
    * with the same partitioning. */
  def zipAll(others: Seq[XbeamDataset])(f: Seq[ArrayChunk] => ArrayChunk,
                                        merged: Template): XbeamDataset = {
    val all = this +: others
    others.foreach { o =>
      o.template.dimSizes.foreach { case (d, n) =>
        val first = template.dimSizes.get(d)
        require(first.isDefined,
          s"dimension $d does not appear on the first dataset")
        require(first.contains(n),
          s"dimension $d has an inconsistent size on different datasets: " +
            s"${first.get} vs $n")
      }
      require(o.template.dimSizes.keySet == template.dimSizes.keySet,
        s"zip requires identical dim sets: ${template.dimOrder} vs " +
          s"${o.template.dimOrder} (dim-subset broadcasting is unsupported)")
      require(chunkSizes == o.chunkSizes,
        s"zip requires identical chunks: $chunkSizes vs ${o.chunkSizes}")
    }
    val n = all.length
    implicit val taggedEnc = Encoders.kryo[(String, Int, Pair)]
    // pair on offsets only: sides may carry different variable sets
    // (e.g. after select) — position, not contents, matches chunks up.
    val tagged = all.zipWithIndex.map { case (ds, i) =>
      ds.chunkDataset.map { p: Pair => (p._1.copy(vars = None).canonical, i, p) }
    }.reduce(_ union _)
    val out = tagged.groupByKey(_._1)(Encoders.STRING).mapGroups { (_, it) =>
      val chunks = it.toArray.sortBy(_._2)
      require(chunks.length == n && chunks.map(_._2).distinct.length == n,
        s"zip expects exactly one chunk per key per dataset, got sides " +
          s"${chunks.map(_._2).mkString("[", ",", "]")} of $n")
      (chunks.head._3._1.copy(vars = None), f(chunks.map(_._3._2).toSeq))
    }
    withPlan(merged, chunkSizes, splitVars, out)
  }

  // ------------------------------------------------------------- sinks

  /** Write to a Zarr v2 store (ChunksToZarr / Dataset.to_zarr,
    * zarr.py:637-821, dataset.py:754-866): the DRIVER writes metadata +
    * eager coords once (setup barrier, zarr.py:810-812 — trivially
    * ordered here because setup happens before the Spark action), then
    * executors region-write their chunks — idempotent under task retry
    * exactly like the reference's region writes (zarr.py:248-251).
    * Chunk offsets must align to the stored chunk grid
    * (validate_zarr_chunk, zarr.py:517-587). */
  /** `zarrShards` (v3 only): per-dim shard element counts — the stored
    * chunks become INNER chunks packed into sharding_indexed shard
    * files (Dataset.to_zarr's zarr_chunks/zarr_shards surface,
    * dataset.py:754-866). Shards must be whole multiples of chunks, and
    * in-memory chunks whole multiples of shards (whole-shard writes,
    * same no-race rule as chunk writes). */
  /** `needsSetup = false` (ChunksToZarr's needs_setup, zarr.py:718-733;
    * exercised by the reference's append test, zarr_test.py:474-530):
    * write into an EXISTING store — typically after [[graft.sources.Zarr.extendDim]]
    * grew it along an append dim. All storage parameters (chunks,
    * compressor, format, shards) come from the store's own metadata;
    * the template must match the store's dims, and chunk offsets land
    * wherever their keys say, so a partial chunk cover appends exactly
    * its own regions. */
  /** `stats = true` additionally writes a per-write-unit min/max
    * sidecar ([[graft.sources.zarr.ChunkStats]]) in the SAME pass as
    * the data (no re-read): the DSv2 scan then prunes chunks on pushed
    * data-variable predicates — parquet-style zone maps for the array
    * store. */
  /** `zarrChunksPerShard` (Dataset.to_zarr's zarr_chunks_per_shard,
    * dataset.py:705-732, 779-786): the convenience spelling — write
    * this dataset into shards (one per in-memory chunk unless
    * `zarrShards` overrides) each holding this many inner Zarr chunks
    * along the named dim. Dims not named default to 1 chunk per shard;
    * the key `"..."` sets a different default (the reference's
    * ellipsis key). Mutually exclusive with `zarrChunks`; implies
    * Zarr v3 when `zarrFormat` is left at auto. */
  /** `zarrFormat = 0` means AUTO: v3 when sharding (shards are a v3
    * codec, dataset.py:857-858), v2 otherwise. */
  def toZarr(path: String, zarrChunks: Map[String, Int] = Map.empty,
             compressor: Option[String] = None, zarrFormat: Int = 0,
             zarrShards: Map[String, Int] = Map.empty,
             needsSetup: Boolean = true, stats: Boolean = false,
             zarrChunksPerShard: Map[String, Int] = Map.empty): Unit = {
    if (!needsSetup) {
      require(zarrChunks.isEmpty && compressor.isEmpty && zarrShards.isEmpty
          && zarrChunksPerShard.isEmpty,
        "with needsSetup=false the store's existing metadata decides " +
          "chunks/compressor/shards — do not pass them")
      require(!stats, "stats sidecars are written by the setup path only: " +
        "an append invalidates existing stats (partial covers can't " +
        "produce complete bounds)")
      return appendToStore(path)
    }
    // zarr_chunks_per_shard → (zarr_chunks, zarr_shards)
    // (dataset.py:705-732 + to_zarr's defaulting at :820-830): shards
    // default to the in-memory chunks, each dim's inner chunk is
    // shard/cps, and the division must be exact.
    require(zarrChunksPerShard.isEmpty || zarrChunks.isEmpty,
      "cannot supply both zarrChunksPerShard and zarrChunks")
    val (effChunks, effShards) =
      if (zarrChunksPerShard.isEmpty) (zarrChunks, zarrShards)
      else {
        val defaultCps = zarrChunksPerShard.getOrElse("...", 1)
        val cps = zarrChunksPerShard - "..."
        val extra = cps.keySet -- template.dimSizes.keySet
        require(extra.isEmpty,
          s"zarrChunksPerShard=$zarrChunksPerShard includes keys that are " +
            s"not dimensions in template: $extra")
        // an explicit partial zarrShards map normalizes against the
        // in-memory chunks first (the reference's normalize_chunks with
        // previous_chunks=self.chunks, dataset.py:812-818), so a cps
        // key for a dim the shards map doesn't name still applies.
        // Unknown shard keys still fail loudly (defaulting by dimOrder
        // would otherwise silently drop the typo'd entry).
        (zarrShards.keySet -- template.dimSizes.keySet).foreach { d =>
          throw new IllegalArgumentException(
            s"zarr_shards names unknown dim $d (dims: ${template.dimOrder})")
        }
        val shards = template.dimOrder
          .map(d => d -> zarrShards.getOrElse(d, chunkSizes(d))).toMap
        val chunks = shards.map { case (d, shardSize) =>
          val n = cps.getOrElse(d, defaultCps)
          require(n > 0, s"chunks per shard for dim $d must be positive, got $n")
          require(shardSize % n == 0,
            s"cannot write a dataset with chunks $chunkSizes to Zarr with " +
              s"zarrChunksPerShard=$zarrChunksPerShard, which do not evenly " +
              s"divide into chunks. Computed chunk size for dimension '$d' " +
              s"is ${shardSize / n}, based on $n chunks per shard.")
          d -> shardSize / n
        }
        (chunks, shards)
      }
    val stored = if (effChunks.isEmpty) chunkSizes
      else ChunkGrid.normalizeChunks(chunkSizes ++ effChunks, template.dimSizes)
    val fmt = if (zarrFormat != 0) zarrFormat
      else if (effShards.nonEmpty) 3 else 2
    // plan-time shard-grid validation (mirror of dataset.py:754-866's
    // zarr_chunks/zarr_shards divisibility checks): every violation
    // names its dim and fails BEFORE setupStore touches the target
    require(effShards.isEmpty || fmt == 3,
      s"zarr_shards requires zarr format 3 (sharding_indexed is a v3 " +
        s"codec), got format $fmt")
    (effShards.keySet -- template.dimSizes.keySet).foreach { d =>
      throw new IllegalArgumentException(
        s"zarr_shards names unknown dim $d (dims: ${template.dimOrder})")
    }
    val shardGrid: Map[String, Int] =
      if (effShards.isEmpty) Map.empty
      else template.dimOrder.map { d =>
        val sh0 = effShards.getOrElse(d, stored(d))
        require(sh0 > 0, s"zarr shard for dim $d must be positive, got $sh0")
        // shard sizes spanning the full dim round UP to a whole multiple
        // of the inner chunk (dataset.py:842-853: zarr constrains shards
        // to integer chunk multiples, so a full-dim shard may overhang)
        val sh = if (sh0.toLong == template.dimSizes(d) && sh0 % stored(d) != 0)
          ((sh0 + stored(d) - 1) / stored(d)) * stored(d)
        else sh0
        require(sh % stored(d) == 0,
          s"zarr shard $sh for dim $d is not a multiple of zarr chunk ${stored(d)}")
        d -> sh
      }.toMap
    // writes go in units of the chunk grid (shards when sharded)
    val writeUnit = if (shardGrid.isEmpty) stored else shardGrid
    template.dimOrder.foreach { d =>
      // full-dim in-memory chunks are exempt (dataset.py:738-752's
      // _check_shards_or_chunks: one writer owns the whole dim, so an
      // overhanging write unit cannot race)
      require(chunkSizes(d) % writeUnit(d) == 0 ||
          chunkSizes(d).toLong == template.dimSizes(d),
        s"in-memory chunk ${chunkSizes(d)} for dim $d is not a multiple of " +
          s"zarr ${if (shardGrid.isEmpty) "chunk" else "shard"} ${writeUnit(d)} " +
          "(sub-unit writes would race, zarr.py:560-587)")
    }
    Zarr.setupStore(path, template, stored, compressor, fmt, shardGrid)
    val tmpl = template
    val comp = compressor.map {
      case "zlib" | "gzip" if fmt == 3 => "gzip"
      case c => c
    }
    val sharded = shardGrid.nonEmpty
    val writeChunks = spark.sparkContext.longAccumulator("graft.write-chunks")
    val writeBytes = spark.sparkContext.longAccumulator("graft.write-bytes")
    val ambient = graft.sources.GraftProps.snapshot()
    val writeOne: Pair => Unit = { p =>
      graft.sources.GraftProps.restore(ambient)
      val (key, chunk) = p
      writeChunks.add(1L)
      writeBytes.add(chunk.nbytes)
      chunk.vars.foreach { case (name, va) =>
        val spec = tmpl.vars(name)
        val meta = Zarr.ArrayMeta(
          spec.dims.map(tmpl.dimSizes), spec.dims.map(writeUnit),
          spec.dtype, spec.dims, comp,
          if (spec.dtype == DType.F32 || spec.dtype == DType.F64) Double.NaN else 0.0,
          format = fmt,
          keySep = if (fmt == 3) "/" else ".",
          shardChunks = if (sharded) Some(spec.dims.map(stored)) else None)
        val starts = va.dims.map(d => key.offsets.getOrElse(d, 0L)).toArray
        starts.zip(va.dims).foreach { case (st, d) =>
          require(st % writeUnit(d) == 0,
            s"chunk offset $st for dim $d is not a multiple of zarr write unit ${writeUnit(d)}")
        }
        Zarr.writeRegion(path, name, meta, starts, va.arr)
      }
    }
    // Stats sidecar sizing is a plan-time constant (the write-unit grid
    // is known from the template), so the skip decision happens BEFORE
    // the job: at the reference's recommended ~1 MB-chunks-in-shards
    // layout even a 100 TB store is ~1e5 write units, far under the
    // bound; a store deliberately written as tens of millions of tiny
    // unsharded chunks skips stats instead of bloating the driver.
    val statMetas: Map[String, graft.sources.zarr.ChunkStats.VarStatsMeta] =
      if (!stats) Map.empty
      else tmpl.vars.map { case (n, vs) =>
        n -> graft.sources.zarr.ChunkStats.VarStatsMeta(vs.dims,
          vs.dims.map(writeUnit),
          vs.dims.map(d =>
            ((tmpl.dimSizes(d) + writeUnit(d) - 1) / writeUnit(d)).toInt))
      }
    val statEntries = statMetas.values.map(_.entries).sum
    val statLimit = spark.conf.get("spark.graft.stats.maxEntries", "4000000").toLong
    if (!stats || statEntries > statLimit) {
      if (stats)
        System.err.println(s"[graft] skipping chunk stats for $path: " +
          s"$statEntries write-unit entries exceed " +
          s"spark.graft.stats.maxEntries=$statLimit")
      chunkDataset.foreach { p: Pair => writeOne(p) }
    } else {
      // one pass: each task region-writes its chunks AND emits one
      // (var, write-unit index, min, max) row per write unit it covers
      // — fixed-size rows, never payloads; the driver assembles the
      // (bounded) sidecar arrays once at the end
      val wu = writeUnit
      val rows = chunkDataset.rdd.flatMap { p =>
        writeOne(p)
        val (key, chunk) = p
        chunk.vars.iterator.flatMap { case (name, va) =>
          graft.sources.zarr.ZarrStatsWrite.rowsFor(
            name, va, key.offsets, va.dims.map(wu), statMetas(name).grid)
        }
      }.collect()
      val isFloat = tmpl.vars.map { case (n, vs) =>
        n -> (vs.dtype == DType.F32 || vs.dtype == DType.F64)
      }
      graft.sources.zarr.ChunkStats.assembleAndWrite(path, statMetas,
        isFloat, rows)
    }
  }

  /** The needsSetup=false write path: region-write this dataset's chunks
    * into an existing store using the store's own array metadata. */
  private def appendToStore(path: String): Unit = {
    // an append rewrites/extends chunk contents, so any recorded
    // min/max sidecar would lie — tombstone it BEFORE touching data
    // (a racing planner sees valid-old stats or none, never wrong ones)
    graft.sources.zarr.ChunkStats.invalidate(path)
    val sm = Zarr.openStore(path)
    val storeDims = sm.dims.toMap
    template.dimOrder.foreach { d =>
      require(storeDims.get(d).contains(template.dimSizes(d)),
        s"store dim $d has size ${storeDims.get(d).orNull} but the template " +
          s"says ${template.dimSizes(d)} — extend the store first " +
          "(Zarr.extendDim)")
    }
    val metas: Map[String, Zarr.ArrayMeta] = template.vars.keys.map { n =>
      n -> sm.arrays.getOrElse(n, throw new IllegalArgumentException(
        s"store $path has no array $n"))
    }.toMap
    metas.foreach { case (n, m) =>
      require(m.cfScale.isEmpty && m.cfFill.isEmpty && m.cfTime.isEmpty &&
        m.timeUnitNs == 1L && m.widenFrom.isEmpty,
        s"cannot append to CF-packed array $n (writes would need re-encoding)")
      require(!m.bigEndian,
        s"cannot append to big-endian array $n (writes are little-endian " +
          "only) — fail fast here instead of mid-job on executors")
      require(m.dims == template.vars(n).dims,
        s"store array $n has dims ${m.dims}, template says ${template.vars(n).dims}")
      require(Zarr.decodedDType(m) == template.vars(n).dtype,
        s"store array $n has dtype ${m.dtype}, template says ${template.vars(n).dtype}")
      // same no-race rule as the setup path: whole write units only
      m.dims.zip(m.chunks).foreach { case (d, unit) =>
        require(chunkSizes(d) % unit == 0,
          s"in-memory chunk ${chunkSizes(d)} for dim $d is not a multiple " +
            s"of the store's write unit $unit for $n")
      }
    }
    val writeChunks = spark.sparkContext.longAccumulator("graft.write-chunks")
    val writeBytes = spark.sparkContext.longAccumulator("graft.write-bytes")
    val ambient = graft.sources.GraftProps.snapshot()
    chunkDataset.foreach { p: Pair =>
      graft.sources.GraftProps.restore(ambient)
      val (key, chunk) = p
      writeChunks.add(1L)
      writeBytes.add(chunk.nbytes)
      chunk.vars.foreach { case (name, va) =>
        val meta = metas(name)
        val starts = va.dims.map(d => key.offsets.getOrElse(d, 0L)).toArray
        Zarr.writeRegion(path, name, meta, starts, va.arr)
      }
    }
  }

  /** Collect to the driver and fully consolidate into one chunk
    * (consolidate_fully, rechunk.py:242-289 / collect_with_direct_runner,
    * dataset.py:868-878). Test-scale only — chunk payloads otherwise
    * never visit the driver. */
  def collectConsolidated(): (ChunkKey, ArrayChunk) = {
    val all = chunkDataset.collect().toSeq
    val consolidated = ChunkOps.consolidateChunks(all)
    ChunkOps.consolidateVariables(consolidated)
  }
}

object XbeamDataset {

  /** Epoch-ns start of the calendar period containing `t` (UTC) — the
    * bucket-label arithmetic shared by the resample family. ISO weeks
    * start Monday (DuckDB/pandas 'W-MON'). */
  /** Raw CF counts → calendar instants per a [[Zarr.CfCalTime]] tag.
    * Integer counts decompose into whole-day and sub-day parts so a
    * "days since"/"hours since" axis spanning millennia stays exact
    * (a single ns product would overflow); float counts round
    * half-even in ns. NaN has no NaT representation in count space —
    * loud. */
  private[api] def calCoordInstants(
      coord: NdArray,
      tag: Zarr.CfCalTime): Array[graft.sources.CfCalendar.CalInstant] = {
    import graft.sources.CfCalendar
    val isFloat = coord.dtype == DType.F64 || coord.dtype == DType.F32
    // Every CF unit is a whole multiple of a day (day/week) or divides
    // the day exactly (ns..hours), so a count decomposes into whole
    // days + a bounded sub-day remainder — no single ns product over
    // the full span ('hours since 0001-01-01' with year-2000 data
    // would overflow a Long ns counter; the instant itself is fine).
    val unitDays = tag.unitNs / CfCalendar.DayNs
    val perDay = // counts per day, for sub-day units
      if (unitDays > 0) 0L else CfCalendar.DayNs / tag.unitNs
    require(unitDays > 0 || CfCalendar.DayNs % tag.unitNs == 0,
      s"CF unit of ${tag.unitNs} ns neither divides nor multiplies a day")
    def ofCount(c: Long, fracNs: Long): CfCalendar.CalInstant =
      if (unitDays > 0)
        CfCalendar.addNs(
          CfCalendar.CalInstant(
            math.addExact(tag.epoch.days, math.multiplyExact(c, unitDays)),
            tag.epoch.nsOfDay),
          fracNs)
      else
        CfCalendar.addNs(
          CfCalendar.CalInstant(
            math.addExact(tag.epoch.days, Math.floorDiv(c, perDay)),
            tag.epoch.nsOfDay),
          math.addExact(Math.floorMod(c, perDay) * tag.unitNs, fracNs))
    Array.tabulate(coord.shape(0)) { i =>
      if (isFloat) {
        val v = coord.getDouble(i)
        require(!v.isNaN, "NaN in calendar time coordinate — drop or " +
          "fill missing times first")
        val whole = math.floor(v)
        ofCount(whole.toLong, math.rint((v - whole) * tag.unitNs).toLong)
      } else {
        val c = coord.getLong(i)
        // a stored iNaT sentinel has no NaT representation in count
        // space — loud, never a silent garbage date
        require(c != Long.MinValue,
          "iNaT (Long.MinValue) in calendar time coordinate — drop or " +
            "fill missing times first")
        ofCount(c, 0L)
      }
    }
  }

  /** Calendar instant back to a raw count — exact in the coordinate's
    * own unit, or loud (a period start that falls between counts is
    * genuinely unrepresentable without changing encoding). Decomposed
    * like [[calCoordInstants]] so distant epochs don't overflow. */
  private[api] def calInstantToCount(
      t: graft.sources.CfCalendar.CalInstant, tag: Zarr.CfCalTime): Long = {
    import graft.sources.CfCalendar
    val dDays = math.subtractExact(t.days, tag.epoch.days)
    val dNs = t.nsOfDay - tag.epoch.nsOfDay // in (-DayNs, DayNs)
    val unitDays = tag.unitNs / CfCalendar.DayNs
    if (unitDays > 0) {
      // day-multiple unit: any sub-day offset from the epoch is
      // unrepresentable (|dNs| < a day <= the unit)
      require(dNs == 0 && dDays % unitDays == 0,
        s"period start is not representable in the coordinate's unit " +
          s"(${tag.unitNs} ns per count)")
      dDays / unitDays
    } else {
      val perDay = CfCalendar.DayNs / tag.unitNs
      require(dNs % tag.unitNs == 0,
        s"period start is not representable in the coordinate's unit " +
          s"(${tag.unitNs} ns per count)")
      math.addExact(math.multiplyExact(dDays, perDay), dNs / tag.unitNs)
    }
  }

  private[api] def periodStartNs(period: String, t: Long): Long = {
    // NaT (possible since CF-time stores decode missing slots to NaT)
    // would otherwise bucket silently as the year-1677 pandas epoch
    require(t != Long.MinValue,
      "NaT in datetime coordinate — drop or fill missing times before " +
        "calendar bucketing")
    val ldt = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(
        Math.floorDiv(t, 1000000000L), Math.floorMod(t, 1000000000L)),
      java.time.ZoneOffset.UTC)
    val start = period match {
      case "year" => ldt.toLocalDate.withDayOfYear(1).atStartOfDay()
      case "quarter" => ldt.toLocalDate
        .withMonth((ldt.getMonthValue - 1) / 3 * 3 + 1)
        .withDayOfMonth(1).atStartOfDay()
      case "month" => ldt.toLocalDate.withDayOfMonth(1).atStartOfDay()
      case "week" =>
        ldt.toLocalDate.`with`(java.time.temporal.TemporalAdjusters
          .previousOrSame(java.time.DayOfWeek.MONDAY)).atStartOfDay()
      case "day" => ldt.toLocalDate.atStartOfDay()
      case "hour" => ldt.withMinute(0).withSecond(0).withNano(0)
      case other => throw new IllegalArgumentException(
        s"unknown resample period $other (year/quarter/month/week/day/hour)")
    }
    start.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
  }

  /** Validated weight vector for the weighted reductions: every entry
    * finite (rejects NaN AND infinities) and >= 0. */
  private[api] def checkedWeights(arr: NdArray, dim: String): Array[Double] = {
    val w = arr.toDoubles
    require(w.forall(v => v >= 0.0 && java.lang.Double.isFinite(v)),
      s"weights on $dim must be finite and >= 0")
    w
  }

  /** Recompute an existing store's chunk-stats sidecar in one scan —
    * the maintenance pass after appends, extends, or streaming upserts
    * tombstoned it ([[graft.sources.zarr.ChunkStats.invalidate]]).
    * One narrow distributed pass over the chunks; only fixed-size
    * (var, unit, min, max, hasNan) rows come back to the driver, and
    * bounds record at the stored-chunk granularity the DSv2 pruner
    * compares against. The same entry cap as the write-time pass
    * applies (`spark.graft.stats.maxEntries`). */
  def rebuildStats(spark: SparkSession, path: String): Unit = {
    val xds = fromZarr(spark, path)
    val tmpl = xds.template
    val cs = xds.chunkSizes
    val statMetas = tmpl.vars.map { case (n, vs) =>
      n -> graft.sources.zarr.ChunkStats.VarStatsMeta(vs.dims,
        vs.dims.map(cs),
        vs.dims.map(d => ((tmpl.dimSizes(d) + cs(d) - 1) / cs(d)).toInt))
    }
    val entries = statMetas.values.map(_.entries).sum
    val limit = spark.conf.get("spark.graft.stats.maxEntries", "4000000").toLong
    require(entries <= limit,
      s"rebuildStats: $entries write-unit entries exceed " +
        s"spark.graft.stats.maxEntries=$limit")
    val rows = xds.chunkDataset.rdd.flatMap { case (key, chunk) =>
      chunk.vars.iterator.flatMap { case (name, va) =>
        graft.sources.zarr.ZarrStatsWrite.rowsFor(name, va, key.offsets,
          va.dims.map(cs), statMetas(name).grid)
      }
    }.collect()
    val isFloat = tmpl.vars.map { case (n, vs) =>
      n -> (vs.dtype == DType.F32 || vs.dtype == DType.F64)
    }
    graft.sources.zarr.ChunkStats.assembleAndWrite(path, statMetas,
      isFloat, rows)
  }

  /** Stack datasets along a NEW leading dim (xarray
    * `concat(datasets, dim="ensemble")` with a fresh dim name — the
    * ensemble/member workflow): every variable gains the new dim with
    * extent 1 per member, member i's chunks keep their keys plus
    * offset i along the new dim, and the result is a pure metadata
    * rewrite + union — ZERO shuffle at any member count. Templates,
    * dtypes, and chunk grids must match exactly; the new dim is
    * chunked 1 (each member's chunks stay intact). The leading-1
    * reshape reuses each chunk's bytes (row-major layout is
    * unchanged). */
  def concatNew(dim: String, datasets: Seq[XbeamDataset]): XbeamDataset = {
    require(datasets.nonEmpty, "concatNew needs at least one dataset")
    val head = datasets.head
    require(!head.template.dimSizes.contains(dim) &&
      !head.template.vars.contains(dim),
      s"concatNew: $dim already exists in the dataset")
    datasets.tail.foreach { d =>
      require(d.template.dims == head.template.dims &&
        d.template.vars == head.template.vars,
        "concatNew: member templates differ (dims/vars must match exactly)")
      require(d.chunkSizes == head.chunkSizes,
        "concatNew: member chunk grids differ (rechunk to a common grid first)")
      // value-equality on the coordinate arrays (xarray concat aligns /
      // validates coordinates): stacking members with different labels
      // under the head's coordinates would silently mislabel their data
      require(d.template.coords.keySet == head.template.coords.keySet &&
        head.template.coords.forall { case (k, c) =>
          d.template.coords(k).sameAs(c) },
        "concatNew: member coordinates differ — align or reindex to " +
          "common labels first (stacking would mislabel data)")
      // attrs intentionally NOT validated: xarray concat's default
      // combine_attrs="override" keeps the first dataset's attrs
    }
    import graft.operators.ChunkTransforms.{Pair, pairEnc}
    val newTemplate = graft.core.Template(
      (dim -> datasets.length.toLong) +: head.template.dims,
      head.template.vars.map { case (nm, vs) =>
        nm -> graft.core.VarSpec(dim +: vs.dims, vs.dtype)
      },
      head.template.coords, head.template.attrs)
    val d = dim
    val out = datasets.zipWithIndex.map { case (ds, i) =>
      val ii = i.toLong
      ds.chunkDataset.map { p: Pair =>
        val (k, c) = p
        (k.copy(offsets = k.offsets + (d -> ii)),
          graft.core.ArrayChunk(c.vars.map { case (nm, va) =>
            nm -> graft.core.VarArray(d +: va.dims,
              graft.ndarray.NdArray(va.arr.dtype, 1 +: va.arr.shape, va.arr.data))
          }))
      }
    }.reduce(_.union(_))
    head.withPlan(newTemplate, head.chunkSizes + (dim -> 1),
      head.splitVars, out)
  }

  /** Scan entry: open a Zarr store (open_zarr + from_zarr,
    * zarr.py:72-96, dataset.py:662-703). `chunks` defaults to the
    * stored chunking (_infer_chunks, zarr.py:48-68). */
  def fromZarr(spark: SparkSession, path: String,
               chunks: Map[String, Int] = Map.empty,
               splitVars: Boolean = false): XbeamDataset = {
    val store = Zarr.openStore(path)
    val template0 = store.template
    // string coordinates (station/label arrays) can't live in the
    // numeric NdArray coord map; they stay store-resident and are
    // addressed by label via selLabels (which reads them on demand)
    val coords = store.coordVars
      .filter { case (_, m) => m.stringDType.isEmpty }
      .map { case (d, m) =>
        d -> Zarr.decodeCf(m, Zarr.readCoord(path, d, m))
      }
    val template = template0.copy(coords = coords)
    val normalized = ChunkGrid.normalizeChunks(
      if (chunks.isEmpty) store.inferChunks else chunks, template.dimSizes)
    // non-Gregorian CF time axes ride as raw counts + a calendar tag
    // (timeField/resample consume it; see CfCalendar)
    val calTags = store.coordVars.collect {
      case (d, m) if m.cfCalTime.isDefined => d -> m.cfCalTime.get
    }
    new XbeamDataset(spark, template, normalized, splitVars,
      Some(ScanSpec(ZarrSource(path, store.arrays), Map.empty)), None,
      calTags)
  }

  /** Driver-side exclusive prefix fold over collected partial slivers —
    * [[laneScan]]'s driver-seeded route: group by lane (key minus `d`),
    * sort by scan position, and left-fold from `init` with `combine`,
    * keying each chunk's accumulator as it stands BEFORE its own sliver
    * folds in (a lane's first chunk gets `init`), exactly as
    * [[laneScan]]'s fused route hands it to `apply`. */
  private[api] def driverScanSeeds(
      partials: Array[(ChunkKey, ArrayChunk)], d: String, reverse: Boolean,
      init: Array[Int] => NdArray,
      combine: (NdArray, NdArray) => NdArray): Map[String, Map[String, NdArray]] = {
    val out = Map.newBuilder[String, Map[String, NdArray]]
    partials.groupBy(p => p._1.copy(offsets = p._1.offsets - d).canonical)
      .foreach { case (_, lane) =>
        val sorted = lane.sortBy { p =>
          val o = p._1.offsets.getOrElse(d, 0L)
          if (reverse) -o else o
        }
        var acc: Map[String, NdArray] = null
        sorted.foreach { case (k, sliver) =>
          if (acc == null)
            acc = sliver.vars.map { case (n, va) => n -> init(va.arr.shape) }
          out += k.canonical -> acc
          acc = sliver.vars.map { case (n, va) => n -> combine(acc(n), va.arr) }
        }
      }
    out.result()
  }

  /** Overwrite-if-present combine for stacked [2]++lane (value, index)
    * slivers: where the sliver's value plane is present it wins and its
    * index travels with it — the scan-prefix monoid shared by
    * interpolateNa and the limited fills. */
  private[api] def overwritePair(acc: NdArray, sliver: NdArray): NdArray = {
    val out = NdArray.zeros(DType.F64, acc.shape)
    val laneSize = acc.size / 2
    var j = 0L
    while (j < laneSize) {
      val sv = sliver.getDouble(j)
      if (sv.isNaN) {
        out.setDouble(j, acc.getDouble(j))
        out.setDouble(laneSize + j, acc.getDouble(laneSize + j))
      } else {
        out.setDouble(j, sv)
        out.setDouble(laneSize + j, sliver.getDouble(laneSize + j))
      }
      j += 1
    }
    out
  }

  /** In-memory entry for tests (from_xarray, dataset.py:624-660). */
  def fromLocal(spark: SparkSession, vars: Map[String, (Seq[String], NdArray)],
                coords: Map[String, NdArray] = Map.empty,
                chunks: Map[String, Int] = Map.empty,
                splitVars: Boolean = false,
                attrs: Map[String, String] = Map.empty): XbeamDataset = {
    val dimSizes = scala.collection.mutable.LinkedHashMap[String, Long]()
    vars.toSeq.sortBy(_._1).foreach { case (n, (dims, arr)) =>
      dims.zip(arr.shape).foreach { case (d, s) =>
        dimSizes.get(d) match {
          case Some(prev) if prev != s => throw new IllegalArgumentException(
            s"inconsistent size for dim $d: $prev vs $s (var $n)")
          case _ => dimSizes(d) = s
        }
      }
    }
    val template = Template(
      dimSizes.toSeq,
      vars.map { case (n, (dims, arr)) => n -> VarSpec(dims, arr.dtype) },
      coords, attrs)
    val normalized = ChunkGrid.normalizeChunks(chunks, template.dimSizes)
    new XbeamDataset(spark, template, normalized, splitVars,
      Some(ScanSpec(LocalSource(vars), Map.empty)), None)
  }

  /** Wrap an existing chunk collection with validation
    * (from_ptransform, dataset.py:561-622). */
  def fromPairs(spark: SparkSession, template: Template,
                chunks: Map[String, Int],
                ds: Dataset[(ChunkKey, ArrayChunk)],
                splitVars: Boolean = false,
                validate: Boolean = true): XbeamDataset = {
    import ChunkTransforms.pairEnc
    val normalized = ChunkGrid.normalizeChunks(chunks, template.dimSizes)
    val checked =
      if (!validate) ds
      else {
        val t = template
        val sv = splitVars
        ds.map { p: (ChunkKey, ArrayChunk) =>
          (p._1, ChunkGrid.validateChunk(t, normalized, sv)(p._1, p._2))
        }
      }
    new XbeamDataset(spark, template, normalized, splitVars, None, Some(checked))
  }

  /** Discovered-template construction (`ChunksToZarr(template=None)`,
    * zarr.py:741-751 + `_DiscoverTemplate`, zarr.py:242-271): infer the
    * global template AND the chunk grid from a raw (key, chunk)
    * collection, so `fromPairsDiscovered(...).toZarr(store)` is the
    * reference's template-free sink. The reference deprecated the mode
    * because its Beam spelling races setup against writes (the
    * discovered template flows in as a side input and can silently miss
    * chunks); here discovery is its OWN metadata-only job — each chunk
    * folds to a few dozen bytes of (var → dims/dtype, dim → max extent
    * + max end) and a `treeReduce` merges them — and only then does the
    * validated dataset (and any later `toZarr` setup) run. Race-free by
    * construction, and the shuffle carries metadata, never payloads, so
    * the discovery pass at 100 TB costs one scan of the input.
    *
    * Grid inference follows the reference's make_template-then-
    * consolidate rule: the chunk size along a dim is the largest extent
    * seen (interior chunks are full-size, only the tail may be ragged)
    * and the dim size is the largest offset+extent. The result then
    * passes through [[fromPairs]] WITH validation, plus a per-variable
    * coverage check (every variable must reach each of its dims'
    * discovered ends), so misaligned offsets, interior holes, and a
    * variable missing its tail all fail loudly. The one inherent
    * limit: a trailing chunk missing from EVERY variable truncates the
    * discovered extent itself — discovery DEFINES the dataset as what
    * the chunks cover (the reference's mode is identical there); when
    * the true extent is known upstream, pass it via [[fromPairs]].
    * Discovered templates have no coords/attrs (chunks don't carry
    * them; assign via [[XbeamDataset.assignCoords]]). */
  def fromPairsDiscovered(spark: SparkSession,
                          ds: Dataset[(ChunkKey, ArrayChunk)],
                          splitVars: Boolean = false): XbeamDataset = {
    // (var → (dims, dtype)), (dim → (max chunk extent, max end)),
    // ((var, dim) → max end) — the per-var coverage surface
    type Meta = (Map[String, (Seq[String], DType)],
                 Map[String, (Int, Long)],
                 Map[(String, String), Long])
    def merge(a: Meta, b: Meta): Meta = {
      val vars = (a._1.keySet ++ b._1.keySet).iterator.map { n =>
        (a._1.get(n), b._1.get(n)) match {
          case (Some(x), Some(y)) =>
            require(x == y, s"inconsistent var $n across chunks: $x vs $y")
            n -> x
          case (x, y) => n -> x.orElse(y).get
        }
      }.toMap
      val dims = (a._2.keySet ++ b._2.keySet).iterator.map { d =>
        val x = a._2.getOrElse(d, (0, 0L)); val y = b._2.getOrElse(d, (0, 0L))
        d -> (math.max(x._1, y._1), math.max(x._2, y._2))
      }.toMap
      val ends = (a._3.keySet ++ b._3.keySet).iterator.map { k =>
        k -> math.max(a._3.getOrElse(k, 0L), b._3.getOrElse(k, 0L))
      }.toMap
      (vars, dims, ends)
    }
    val metas = ds.rdd.map { case (key, chunk) =>
      require(key.indices.isEmpty,
        "template discovery needs offsets-keyed chunks (indices carry no " +
          "grid positions) — key.indices must be empty")
      val vars = chunk.vars.map { case (n, va) => n -> (va.dims, va.arr.dtype) }
      // variables within ONE chunk must agree on each shared dim's
      // extent (they cover the same grid cell) — a last-wins map here
      // would make the discovered grid depend on iteration order and
      // surface later as a misleading shape mismatch; fail at the
      // disagreeing chunk instead
      val dims = scala.collection.mutable.Map[String, (Int, Long)]()
      chunk.vars.foreach { case (n, va) =>
        va.dims.zip(va.arr.shape).foreach { case (d, s) =>
          val off = key.offsets.getOrElse(d, 0L)
          dims.get(d) match {
            case Some((prev, _)) if prev != s =>
              throw new IllegalArgumentException(
                s"template discovery: chunk at ${key.offsets} has " +
                  s"variables disagreeing on dim $d's extent " +
                  s"($prev vs $s from $n) — all variables in one chunk " +
                  "must cover the same grid cell")
            case _ => dims(d) = (s, off + s)
          }
        }
      }
      val ends = chunk.vars.iterator.flatMap { case (n, va) =>
        va.dims.zip(va.arr.shape).map { case (d, s) =>
          (n, d) -> (key.offsets.getOrElse(d, 0L) + s)
        }
      }.toMap
      (vars, dims.toMap, ends): Meta
    }
    val (vars, dims, ends) =
      try metas.treeReduce(merge)
      catch { case _: UnsupportedOperationException =>
        throw new IllegalArgumentException(
          "cannot discover a template from an empty chunk collection")
      }
    vars.foreach { case (n, (dimSeq, _)) =>
      dimSeq.foreach { d =>
        val got = ends.getOrElse((n, d), 0L)
        require(got == dims(d)._2,
          s"discovered template: variable $n covers only $got of dim $d's " +
            s"discovered size ${dims(d)._2} — a trailing chunk of $n is " +
            "missing from the collection")
      }
    }
    // deterministic dim order: first appearance walking vars by name
    val order = scala.collection.mutable.LinkedHashSet[String]()
    vars.toSeq.sortBy(_._1).foreach { case (_, (ds0, _)) => order ++= ds0 }
    val template = Template(
      order.toSeq.map(d => d -> dims(d)._2),
      vars.map { case (n, (dimSeq, dt)) => n -> VarSpec(dimSeq, dt) },
      Map.empty, Map.empty)
    fromPairs(spark, template, dims.map { case (d, (ext, _)) => d -> ext },
      ds, splitVars, validate = true)
  }

  /** Executor-side chunk read for a scan key (the read half of
    * DatasetToChunks, core.py:515-541). */
  private[api] def readChunk(spec: ScanSpec, template: Template,
                             chunks: Map[String, Int], key: ChunkKey): ArrayChunk = {
    val dimSizes = template.dimSizes
    val ranges = ChunkGrid.offsetsToRanges(key, chunks, dimSizes)
    val wanted: Set[String] = key.varsSet.getOrElse(template.vars.keySet)
    spec.source match {
      case ZarrSource(path, metas) =>
        // per-variable parallel IO — the reference's thread-pooled
        // per-variable chunk load (ThreadMap, threadmap.py:34-124;
        // core.py:528-530). CPU decode is trivial next to object-store
        // latency, so variables of one chunk fetch concurrently.
        val vars = template.vars.filter(kv => wanted(kv._1)).toSeq
        def readVar(name: String, vs: VarSpec): (String, VarArray) = {
          val meta = metas(name)
          val starts = vs.dims.map { d =>
            spec.offset.getOrElse(d, 0L) + ranges.get(d).map(_._1.toLong).getOrElse(0L)
          }.toArray
          val lens = vs.dims.zipWithIndex.map { case (d, i) =>
            ranges.get(d).map(_._2).getOrElse(meta.shape(i).toInt)
          }.toArray
          name -> VarArray(vs.dims,
            Zarr.decodeCf(meta, Zarr.readRegion(path, name, meta, starts, lens)))
        }
        val read =
          if (vars.lengthCompare(1) <= 0) vars.map(kv => readVar(kv._1, kv._2))
          else {
            import scala.concurrent.{Await, Future}
            import scala.concurrent.duration.Duration
            import scala.concurrent.ExecutionContext.Implicits.global
            Await.result(
              Future.traverse(vars)(kv => Future(readVar(kv._1, kv._2))),
              Duration.Inf)
          }
        ArrayChunk(read.toMap)
      case LocalSource(vars) =>
        ArrayChunk(vars.filter(kv => wanted(kv._1)).map { case (name, (dims, arr)) =>
          val starts = dims.zipWithIndex.map { case (d, _) =>
            (spec.offset.getOrElse(d, 0L) + ranges.get(d).map(_._1.toLong).getOrElse(0L)).toInt
          }.toArray
          val lens = dims.zipWithIndex.map { case (d, i) =>
            ranges.get(d).map(_._2).getOrElse(arr.shape(i))
          }.toArray
          name -> VarArray(dims, arr.slice(starts, lens))
        })
    }
  }
}
