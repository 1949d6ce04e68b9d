package graft.api

import org.scalatest.funsuite.AnyFunSuite

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.ndarray.{DType, NdArray}

/** Results of a cumulative op do not depend on its scan route. Every op
  * of the lane-scan family runs on its default route (the fused
  * lane-sorted shuffle for these small lanes; interpolateNa's
  * driver-seeded map) and on the other one: a 1-byte advisory partition
  * size sends the family to the driver-seeded map, and disabling
  * broadcast sends interpolateNa to its two fused scans. The outputs
  * must be bit-identical ([[sameBits]]), on float data with NaN, ±0,
  * ±inf and subnormals. On integer-valued data they must also equal the
  * whole-array kernels. */
class LaneScanRoutePropSpec extends AnyFunSuite {
  import LaneScanRoutePropSpec.Op
  import graft.TestSpark.withConf

  private lazy val spark = graft.TestSpark.spark

  private val ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val BROADCAST = "spark.sql.autoBroadcastJoinThreshold"

  private def exchanges(ds: XbeamDataset): Int =
    "(?<!Reused)Exchange".r
      .findAllIn(ds.chunkDataset.queryExecution.executedPlan.toString).size

  /** Bit-identical up to NaN payloads: every non-NaN cell (±0 included)
    * has the same bits, and NaN sits in the same cells. A NaN's sign bit
    * is not deterministic on the JVM: `NaN + NaN` keeps the payload of
    * whichever operand the machine code puts first, and the JIT may swap
    * the operands of a commutative op, so the same kernel on the same
    * chunk can write NaNs of either sign from one run to the next. */
  private def sameBits(x: NdArray, y: NdArray): Boolean =
    x.dtype == y.dtype && x.shape.sameElements(y.shape) &&
      x.toDoubles.map(java.lang.Double.doubleToLongBits).sameElements(
        y.toDoubles.map(java.lang.Double.doubleToLongBits))

  private def check(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n)
      .withInitialSeed(org.scalacheck.rng.Seed(graft.FuzzSeed(401853L))), p)
    assert(res.passed, res.status.toString)
  }

  private def ops(alpha: Double, limit: Int, maxGap: Double): Seq[Op] = Seq(
    Op("cumsum", _.cumsum(_), Some(_.cumsumAlong(_, None))),
    Op("cumprod", _.cumprod(_), Some(_.cumprodAlong(_, None))),
    Op("cummax", _.cummax(_), Some(_.cumExtremeAlong(_, isMin = false, None))),
    Op("cummin", _.cummin(_), Some(_.cumExtremeAlong(_, isMin = true, None))),
    Op("cumminmax", _.cumminmax(_), None),
    Op("ffill", _.ffill(_), Some(_.ffillAlong(_, None))),
    Op("bfill", _.bfill(_), Some(_.bfillAlong(_, None))),
    Op(s"ffill(limit=$limit)", _.ffill(_, limit), None),
    Op(s"bfill(limit=$limit)", _.bfill(_, limit), None),
    Op(s"ewm($alpha)", _.ewm(_, alpha), Some(_.ewmAlong(_, alpha, None))),
    Op("interpolateNa", _.interpolateNa(_), None),
    Op(s"interpolateNa(maxGap=$maxGap)", _.interpolateNa(_, maxGap), None))

  /** Float cells, weighted towards the values a regrouped or reordered
    * fold would change: non-integers, NaN, ±0, ±inf and subnormals. */
  private val floatCell: Gen[Double] = Gen.frequency(
    10 -> Gen.choose(-50.0, 50.0).map(v => if (v == v.floor) v + 0.1 else v),
    2 -> Gen.const(Double.NaN),
    1 -> Gen.oneOf(0.0, -0.0),
    1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity),
    1 -> Gen.oneOf(Double.MinPositiveValue, -4.9e-321, 2.2e-310))

  /** Small integers and NaN: every partial sum, product (lanes hold at
    * most 9 cells) and dyadic ewm step is exact in float64. */
  private val intCell: Gen[Double] = Gen.frequency(
    6 -> Gen.chooseNum(-3, 3).map(_.toDouble),
    1 -> Gen.const(Double.NaN))

  test("driver-seeded and fused scans agree bit for bit; integer data equals the kernels") {
    val g = for {
      ndim <- Gen.chooseNum(1, 3)
      dims <- Gen.listOfN(ndim, for {
        size <- Gen.chooseNum(2, 9)
        chunk <- Gen.chooseNum(1, size)
      } yield (size, chunk))
      scanAxis <- Gen.chooseNum(0, ndim - 1)
      nVars <- Gen.chooseNum(1, 2)
      // the second variable may miss a dim: when that is the scan dim,
      // it passes through the scan untouched
      dropDim <- Gen.chooseNum(-1, ndim - 1)
      intValued <- Gen.oneOf(false, true)
      cells <- Gen.listOfN(2 * dims.map(_._1).product,
        if (intValued) intCell else floatCell)
      alpha <- if (intValued) Gen.const(0.5) else Gen.oneOf(0.5, 0.3, 0.875)
      limit <- Gen.chooseNum(1, 4)
      maxGap <- Gen.oneOf(2.0, 3.5, 6.0)
      opIdx <- Gen.chooseNum(0, 11)
    } yield (dims.toVector, scanAxis, nVars, dropDim, intValued, cells.toArray,
      alpha, limit, maxGap, opIdx)
    check(Prop.forAllNoShrink(g) {
      case (dims, scanAxis, nVars, dropDim, intValued, cells, alpha, limit,
            maxGap, opIdx) =>
        val names = dims.indices.map(i => s"d$i")
        val scanDim = names(scanAxis)
        val shape = dims.map(_._1).toArray
        val n0 = shape.product
        val v0 = NdArray.fromDoubles(DType.F64, shape, cells.take(n0))
        val v1Dims =
          if (dropDim < 0 || names.size < 2) names else names.patch(dropDim, Nil, 1)
        val v1Shape = v1Dims.map(d => shape(names.indexOf(d))).toArray
        val v1 = NdArray.fromDoubles(DType.F64, v1Shape,
          cells.slice(n0, n0 + v1Shape.product))
        val src = Map("v0" -> (names, v0), "v1" -> (v1Dims, v1)).take(nVars)
        def ds = XbeamDataset.fromLocal(spark, src,
          chunks = names.zip(dims.map(_._2)).toMap)
        val op = ops(alpha, limit, maxGap)(opIdx)
        val isInterp = op.name.startsWith("interpolateNa")
        def run(): (Int, graft.core.ArrayChunk) = {
          val out = op.run(ds, scanDim)
          (exchanges(out), out.collectConsolidated()._2)
        }
        // interpolateNa: driver-seeded by default, two fused scans with
        // broadcast disabled; the rest: fused by default, driver-seeded
        // when no lane fits the advisory size
        val (exA, a) = run()
        val (exB, b) =
          if (isInterp) withConf(ADVISORY -> "1", BROADCAST -> "-1")(run())
          else withConf(ADVISORY -> "1")(run())
        val routed = if (isInterp) exA == 0 && exB == 2 else exA == 1 && exB == 0
        val same = a.varNames == b.varNames &&
          a.vars.forall { case (n, va) => sameBits(va.arr, b.vars(n).arr) }
        val kernelOk = !intValued || op.kernel.forall { k =>
          src.forall { case (n, (vDims, arr)) =>
            val expect =
              if (vDims.contains(scanDim)) k(arr, vDims.indexOf(scanDim)) else arr
            sameBits(a.vars(n).arr, expect)
          }
        }
        (routed && same && kernelOk) :|
          s"op=${op.name} dims=$dims scan=$scanDim vars=${src.keys} " +
            s"v1Dims=$v1Dims int=$intValued exchanges=($exA,$exB) " +
            s"same=$same kernel=$kernelOk cells=${cells.mkString(",")}"
    }, n = 120)
  }
}

object LaneScanRoutePropSpec {
  /** One cumulative op: its name, the op, and the whole-array kernel it
    * must equal on integer-valued data (None where no single kernel
    * call is the reference). */
  final case class Op(name: String, run: (XbeamDataset, String) => XbeamDataset,
                      kernel: Option[(NdArray, Int) => NdArray])
}
