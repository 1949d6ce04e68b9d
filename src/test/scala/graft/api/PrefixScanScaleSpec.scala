package graft.api

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.withConf
import graft.ndarray.{DType, NdArray}

/** Scale posture of the shared lane scan (laneScan): every route gives
  * the same bits on gappy data, including interpolateNa's two fused
  * scans with broadcast disabled, and a pancake-chunked many-thousand-
  * chunk lane (the ERA5 shape, reference examples/README.md:10-28)
  * completes on both routes — streaming one chunk plus one sliver per
  * task through the fused sort, or one seed per chunk from the driver's
  * fold. */
class PrefixScanScaleSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private val ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val BROADCAST = "spark.sql.autoBroadcastJoinThreshold"

  /** No lane fits a 1-byte advisory size: the lane scans take their
    * driver-seeded route. */
  private def driverSeeded[A](body: => A): A = withConf(ADVISORY -> "1")(body)

  /** Broadcast disabled as well: no seeds may be broadcast, so every
    * scan runs fused (interpolateNa as two fused scans). */
  private def noBroadcast[A](body: => A): A =
    withConf(ADVISORY -> "1", BROADCAST -> "-1")(body)

  /** Integer-valued data with a deterministic NaN pattern so sums are
    * order-independent and the fill / interp ops see real gaps. */
  private def gappy(time: Int, x: Int): Map[String, (Seq[String], NdArray)] = {
    val vals = Array.tabulate(time * x) { i =>
      if (i % 7 == 3 || i % 11 == 5) Double.NaN else (i % 97).toDouble
    }
    Map("v" -> (Seq("time", "x"),
      NdArray.fromDoubles(DType.F64, Array(time, x), vals)))
  }

  private def ds(time: Int = 64, x: Int = 8,
                 chunks: Map[String, Int] = Map("time" -> 2, "x" -> 4)) =
    XbeamDataset.fromLocal(spark, gappy(time, x), chunks = chunks)

  test("fused, broadcast-seeded and broadcast-disabled scans agree") {
    // the default routes these small lanes fused (interpolateNa:
    // broadcast-seeded); a 1-byte advisory size sends the family to the
    // broadcast-seeded map, and with broadcast disabled every op runs
    // fused, interpolateNa as two fused scans — results must not depend
    // on the routing
    val ops: Seq[XbeamDataset => XbeamDataset] = Seq(
      _.cumsum("time"), _.ffill("time"), _.bfill("time"),
      _.cummax("time"), _.cummin("time"), _.interpolateNa("time"),
      _.cumprod("time"), _.ewm("time", 0.5), _.cumminmax("time"),
      _.ffill("time", limit = 3), _.bfill("time", limit = 2),
      _.interpolateNa("time", maxGap = 6.0))
    for (op <- ops) {
      val default = op(ds()).collectConsolidated()._2
      val bcast = driverSeeded(op(ds()).collectConsolidated()._2)
      val fused = noBroadcast(op(ds()).collectConsolidated()._2)
      for (v <- default.vars.keys) {
        assert(bcast.vars(v).arr.sameAs(default.vars(v).arr),
          s"broadcast-seeded diverged on $v")
        assert(fused.vars(v).arr.sameAs(default.vars(v).arr),
          s"broadcast-disabled diverged on $v")
      }
    }
  }

  test("a 10k-chunk pancake lane scans with one resident sliver per task") {
    // 10,000 chunks along time (chunk=1, the degenerate pancake): the
    // old flatMapGroups path buffered all 10k slivers in ONE task; the
    // fused route streams one chunk and one sliver through the sort,
    // and the driver-seeded route folds 80 KB of seeds on the driver
    // and maps each chunk on its own. Values are integer so the cumsum
    // is exact; verify both against a driver-side running sum.
    val n = 10000
    val vals = Array.tabulate(n)(i => ((i * 31) % 101).toDouble)
    val xds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("time"), NdArray.fromDoubles(DType.F64, Array(n), vals))),
      chunks = Map("time" -> 1))
    val expect = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += vals(i); expect(i) = acc; i += 1 }
    val want = NdArray.fromDoubles(DType.F64, Array(n), expect)
    val fused = xds.cumsum("time").collectConsolidated()._2.vars("v").arr
    assert(fused.sameAs(want), "fused route")
    val seeded = driverSeeded(
      xds.cumsum("time").collectConsolidated()._2.vars("v").arr)
    assert(seeded.sameAs(want), "driver-seeded route")
  }
}
