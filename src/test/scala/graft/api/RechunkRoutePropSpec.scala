package graft.api

import org.scalatest.funsuite.AnyFunSuite

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.ndarray.{DType, NdArray}

/** Results of a rechunk do not depend on its route. The same data is
  * rechunked through a scan, which may read the target or the plan's
  * first stage straight from the source, and through a non-scan
  * lineage, which takes every planned stage as a shuffle; both must give
  * the same keys and bit-identical arrays, equal to the source. */
class RechunkRoutePropSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def check(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n)
      .withInitialSeed(org.scalacheck.rng.Seed(graft.FuzzSeed(201618L))), p)
    assert(res.passed, res.status.toString)
  }

  private def mk(dtype: DType, shape: Array[Int], seed: Int): NdArray =
    NdArray.fromDoubles(dtype, shape, Array.tabulate(shape.product) { i =>
      val v = ((i * 37 + seed) % 199) - 99
      if (dtype == DType.F64 || dtype == DType.F32) v / 4.0 else v.toDouble
    })

  test("scan and non-scan rechunks agree bit for bit, split or merged vars") {
    val g = for {
      ndim <- Gen.chooseNum(1, 3)
      dims <- Gen.listOfN(ndim, for {
        size <- Gen.chooseNum(2, 9)
        srcChunk <- Gen.chooseNum(1, size)
        dstChunk <- Gen.chooseNum(1, size)
      } yield (size, srcChunk, dstChunk))
      dtypes <- Gen.chooseNum(1, 3).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(DType.F64, DType.F32, DType.I32)))
      splitVars <- Gen.oneOf(false, true)
      // a tight bound makes the planner stage the rechunk; 1 GiB plans
      // a single stage
      tightMem <- Gen.oneOf(false, true)
      seed <- Gen.chooseNum(0, 1000)
    } yield (dims.toVector, dtypes.toVector, splitVars, tightMem, seed)
    check(Prop.forAllNoShrink(g) { case (dims, dtypes, splitVars, tightMem, seed) =>
      val names = dims.indices.map(i => s"d$i")
      val shape = dims.map(_._1).toArray
      val src = dtypes.zipWithIndex.map { case (dt, v) =>
        s"v$v" -> (names, mk(dt, shape, seed + v))
      }.toMap
      val scan = XbeamDataset.fromLocal(spark, src,
        chunks = names.zip(dims.map(_._2)).toMap, splitVars = splitVars)
      val target = names.zip(dims.map(_._3)).toMap
      val maxMem = if (tightMem) 8L * dtypes.size * math.max(1,
        math.max(dims.map(_._2).product, dims.map(_._3).product))
      else 1L << 30
      def pairs(ds: XbeamDataset) =
        ds.rechunk(target, maxMem).chunkDataset.collect()
          .sortBy(_._1.canonical).toSeq
      val viaScan = pairs(scan)
      val viaLineage = pairs(scan.mapBlocks(identity))
      val sameKeys = viaScan.map(_._1) == viaLineage.map(_._1)
      val sameArrays = viaScan.zip(viaLineage).forall { case ((_, a), (_, b)) =>
        a.varNames == b.varNames &&
          a.vars.forall { case (n, va) => va.arr.sameAs(b.vars(n).arr) }
      }
      val merged = graft.operators.ChunkOps.consolidateVariables(
        graft.operators.ChunkOps.consolidateChunks(viaScan))._2
      val lossless = src.forall { case (n, (_, arr)) => merged.vars(n).arr.sameAs(arr) }
      (sameKeys && sameArrays && lossless) :|
        s"dims=$dims dtypes=$dtypes splitVars=$splitVars tightMem=$tightMem " +
          s"keys=$sameKeys arrays=$sameArrays lossless=$lossless"
    }, n = 30)
  }
}
