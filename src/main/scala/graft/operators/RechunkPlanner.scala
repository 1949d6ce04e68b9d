package graft.operators

/** Multi-stage rechunking planner — a faithful port of the reference's
  * pure-math algorithm (xarray_beam rechunker_algorithm.py:39-388, itself
  * forked from pangeo rechunker). Chunk vectors are per-axis element
  * counts; memory is measured in bytes via `itemsize`.
  *
  * The plan bounds every intermediate chunk in [minMem, maxMem]: stages
  * are geometrically interpolated between (consolidated) read and write
  * chunks, and the stage count grows until the smallest intermediate is
  * big enough — stopping early (with a warning flag) if total IO ops
  * start rising instead.
  */
object RechunkPlanner {

  final case class Stage(read: Vector[Long], intermediate: Vector[Long],
                         write: Vector[Long])

  final case class Plan(stages: Vector[Stage], excessiveIo: Boolean)

  /** Grow chunks along axes (last axis first) up to maxMem and per-axis
    * limits (rechunker_algorithm.py:39-117). chunkLimits: None per axis =
    * don't consolidate that axis; -1 = no limit. */
  def growChunks(shape: Vector[Long], chunks: Vector[Long], itemsize: Long,
                 maxMem: Long,
                 chunkLimits: Option[Vector[Option[Long]]] = None): Vector[Long] = {
    val ndim = shape.length
    val limits: Vector[Option[Long]] =
      chunkLimits.getOrElse(shape.map(s => Some(s)))
    require(limits.length == ndim)
    val limitPerAxis: Map[Int, Long] = (0 until ndim).flatMap { ax =>
      limits(ax) match {
        case None => None
        case Some(-1L) => Some(ax -> shape(ax))
        case Some(cl) if cl >= chunks(ax) && cl <= shape(ax) => Some(ax -> cl)
        case Some(cl) if cl > shape(ax) => Some(ax -> shape(ax))
        case Some(cl) =>
          throw new IllegalArgumentException(s"invalid chunk limit $cl on axis $ax")
      }
    }.toMap

    var chunkMem = itemsize * chunks.product
    require(chunkMem <= maxMem, s"chunk_mem $chunkMem > max_mem $maxMem")
    var headroom = maxMem.toDouble / chunkMem

    val newChunks = chunks.toArray
    limitPerAxis.keys.toSeq.sorted.reverse.foreach { ax =>
      val upperBound = math.min(shape(ax), limitPerAxis(ax))
      newChunks(ax) = upperBound
      chunkMem = itemsize * newChunks.product
      val upperHeadroom = maxMem.toDouble / chunkMem
      if (upperHeadroom > 1) {
        headroom = upperHeadroom
      } else {
        val larger = chunks(ax) * headroom.toLong
        newChunks(ax) = math.min(larger, upperBound)
        chunkMem = itemsize * newChunks.product
        headroom = maxMem.toDouble / chunkMem
      }
      assert(headroom >= 1, s"headroom $headroom < 1 after axis $ax")
    }
    newChunks.toVector
  }

  /** Smallest chunks fitting inside both (elementwise min). */
  def sharedChunks(read: Vector[Long], write: Vector[Long]): Vector[Long] =
    read.zip(write).map { case (r, w) => math.min(r, w) }

  /** Geometric interpolation of chunk shapes between read and write
    * (rechunker_algorithm.py:137-167, np.geomspace + floor). */
  def stageChunks(read: Vector[Long], write: Vector[Long],
                  stageCount: Int): Vector[Vector[Long]] = {
    // geomspace(read, write, num = stageCount + 1) without endpoints:
    // value_k[d] = read[d] * (write[d]/read[d])^(k/stageCount), k in
    // 1..stageCount-1, floored.
    (1 until stageCount).toVector.map { k =>
      read.indices.toVector.map { d =>
        val r = read(d).toDouble
        val w = write(d).toDouble
        val v = r * math.pow(w / r, k.toDouble / stageCount)
        math.floor(v).toLong
      }
    }
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
  private def lcm(a: Long, b: Long): Long = a / gcd(a, b) * b

  /** Number of irregular intermediate chunks along one dim ∝ IO ops
    * (rechunker_algorithm.py:170-204). */
  def countIntermediateChunks(source: Long, target: Long, size: Long): Long = {
    val multiple = lcm(source, target)
    val splitsPerLcm = multiple / source + multiple / target - 1
    val lcmCount = size / multiple
    val remainder = size % multiple
    val splitsInRemainder =
      if (remainder != 0)
        (remainder + source - 1) / source + (remainder + target - 1) / target - 1
      else 0L
    lcmCount * splitsPerLcm + splitsInRemainder
  }

  def singleStageIoOps(shape: Vector[Long], in: Vector[Long],
                       out: Vector[Long]): Long =
    shape.indices.map(d => countIntermediateChunks(in(d), out(d), shape(d))).product

  val MaxStages = 100

  /** The full multi-stage plan (rechunker_algorithm.py:228-349). */
  def multistagePlan(shape: Vector[Long], sourceChunks: Vector[Long],
                     targetChunks: Vector[Long], itemsize: Long,
                     minMem: Long, maxMem: Long,
                     consolidateReads: Boolean = true,
                     consolidateWrites: Boolean = true): Plan = {
    val ndim = shape.length
    require(sourceChunks.length == ndim, s"source_chunks must have length $ndim")
    require(targetChunks.length == ndim, s"target_chunks must have length $ndim")
    val sourceMem = itemsize * sourceChunks.product
    val targetMem = itemsize * targetChunks.product
    require(sourceMem <= maxMem, s"source chunk memory ($sourceMem) exceeds max_mem ($maxMem)")
    require(targetMem <= maxMem, s"target chunk memory ($targetMem) exceeds max_mem ($maxMem)")
    require(maxMem >= minMem, s"max_mem ($maxMem) cannot be smaller than min_mem ($minMem)")

    val writeChunks =
      if (consolidateWrites) growChunks(shape, targetChunks, itemsize, maxMem)
      else targetChunks
    val readChunks =
      if (consolidateReads) {
        val limits = sourceChunks.zip(writeChunks).map { case (sc, wc) =>
          if (wc > sc) Some(wc) else None
        }
        growChunks(shape, sourceChunks, itemsize, maxMem, Some(limits))
      } else sourceChunks

    var prevIoOps: Option[Long] = None
    var prevPlan: Option[Vector[Stage]] = None

    var stageCount = 1
    while (stageCount < MaxStages) {
      val mids = stageChunks(readChunks, writeChunks, stageCount)
      val pre = readChunks +: mids
      val post = mids :+ writeChunks
      val ints = pre.zip(post).map { case (p, q) => sharedChunks(p, q) }
      val plan = pre.indices.toVector.map(i => Stage(pre(i), ints(i), post(i)))
      val intMem = ints.map(c => itemsize * c.product).min
      if (intMem >= minMem) return Plan(plan, excessiveIo = false)
      val ioOps = pre.zip(post).map { case (p, q) => singleStageIoOps(shape, p, q) }.sum
      if (prevIoOps.exists(ioOps > _))
        return Plan(prevPlan.get, excessiveIo = true)
      prevIoOps = Some(ioOps)
      prevPlan = Some(plan)
      stageCount += 1
    }
    throw new AssertionError(
      s"failed to find a feasible multi-stage rechunking scheme for " +
        s"shape=$shape source=$sourceChunks target=$targetChunks " +
        s"min_mem=$minMem max_mem=$maxMem")
  }

  /** Dim-name-keyed plan, ordered by `dimOrder` (rechunk.py:62-85). */
  def planForDims(dimOrder: Seq[String], dimSizes: Map[String, Long],
                  source: Map[String, Int], target: Map[String, Int],
                  itemsize: Long, minMem: Long, maxMem: Long): Vector[(Map[String, Int], Map[String, Int], Map[String, Int])] = {
    val shape = dimOrder.map(dimSizes).toVector
    val src = dimOrder.map(d => source(d).toLong).toVector
    val tgt = dimOrder.map(d => target(d).toLong).toVector
    val plan = multistagePlan(shape, src, tgt, itemsize, minMem, maxMem)
    plan.stages.map { st =>
      (dimOrder.zip(st.read.map(_.toInt)).toMap,
        dimOrder.zip(st.intermediate.map(_.toInt)).toMap,
        dimOrder.zip(st.write.map(_.toInt)).toMap)
    }
  }
}
