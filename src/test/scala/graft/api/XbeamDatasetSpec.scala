package graft.api

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestSpark}
import graft.Fixtures.arange
import graft.core.{ArrayChunk, ChunkKey, VarArray}
import graft.ndarray.{DType, NdArray}

/** High-level API + integration round-trips — ports the shape of the
  * reference's integration_test.py:68-118 (zarr → rechunk → zarr,
  * compared with the original) onto Spark. */
class XbeamDatasetSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  def era5ds(chunks: Map[String, Int] = Map("time" -> 4)) =
    XbeamDataset.fromLocal(spark, Fixtures.era5(), chunks = chunks)

  private def exchanges(ds: XbeamDataset): Int =
    "(?<!Reused)Exchange".r
      .findAllIn(ds.chunkDataset.queryExecution.executedPlan.toString).size

  /** Run `body` under a 1-byte advisory partition size: no lane fits
    * it, so the lane scans take their driver-seeded route. */
  private def withDriverSeeds[A](body: => A): A =
    TestSpark.withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1")(body)

  test("scan enumerates the chunk grid and values round-trip") {
    val xds = era5ds()
    val pairs = xds.chunkDataset.collect()
    assert(pairs.length == 3) // time=12 / 4
    val (_, full) = xds.collectConsolidated()
    assert(full.vars("temperature").arr.sameAs(Fixtures.era5()("temperature")._2))
  }

  test("splitVars scan emits per-variable chunks") {
    val xds = XbeamDataset.fromLocal(spark, Fixtures.era5(),
      chunks = Map("time" -> 6), splitVars = true)
    val pairs = xds.chunkDataset.collect()
    assert(pairs.length == 4) // 2 time chunks x 2 vars
    assert(pairs.forall(_._1.vars.exists(_.length == 1)))
  }

  test("head/tail rewrite the scan instead of transforming (pushdown)") {
    val xds = era5ds()
    val h = xds.head("time", 5)
    assert(h.isScan && h.template.dimSizes("time") == 5)
    val (_, hc) = h.collectConsolidated()
    assert(hc.vars("temperature").arr.sameAs(
      Fixtures.era5()("temperature")._2.slice(Array(0, 0, 0), Array(5, 5, 6))))
    val t = xds.tail("time", 3)
    assert(t.isScan && t.template.dimSizes("time") == 3)
    val (_, tc) = t.collectConsolidated()
    assert(tc.vars("temperature").arr.sameAs(
      Fixtures.era5()("temperature")._2.slice(Array(9, 0, 0), Array(3, 5, 6))))
    // head on a transformed dataset is rejected (dataset.py:1105-1121)
    assertThrows[UnsupportedOperationException] {
      xds.mapBlocks(identity).head("time", 2)
    }
  }

  test("select prunes variables at the scan") {
    val xds = era5ds().select(Set("precip"))
    assert(xds.isScan)
    val pairs = xds.chunkDataset.collect()
    assert(pairs.forall(_._2.varNames == Set("precip")))
  }

  test("transpose permutes dims and data") {
    val xds = era5ds().transpose(Seq("longitude", "time", "latitude"))
    assert(xds.template.dimOrder == Seq("longitude", "time", "latitude"))
    val (_, c) = xds.collectConsolidated()
    val orig = Fixtures.era5()("temperature")._2
    assert(c.vars("temperature").arr.sameAs(orig.transpose(Array(2, 0, 1))))
  }

  test("mapBlocks: elementwise transform with key/template preservation") {
    val xds = era5ds().mapBlocks { c =>
      c.mapVars((_, va) => VarArray(va.dims, va.arr.mapF64(_ * 2 + 1)))
    }
    assert(xds.template.dimSizes == Map("time" -> 12L, "latitude" -> 5L, "longitude" -> 6L))
    val (_, c) = xds.collectConsolidated()
    val expect = Fixtures.era5()("temperature")._2.mapF64(_ * 2 + 1)
    assert(c.vars("temperature").arr.sameAs(expect))
  }

  test("mapBlocks: even rescale adjusts dims, chunks and offsets") {
    // coarsen time by 2 via pairwise mean along axis 0
    val coarsen: ArrayChunk => ArrayChunk = { c =>
      c.mapVars { (_, va) =>
        val a = va.arr
        val n = a.shape(0) / 2
        val rest = a.shape.drop(1)
        val out = NdArray.zeros(DType.F64, n +: rest.toSeq.toArray)
        val inner = rest.product
        var i = 0L
        while (i < out.size) {
          val t = i / inner
          val r = i % inner
          out.setDouble(i, (a.getDouble((2 * t) * inner + r) +
            a.getDouble((2 * t + 1) * inner + r)) / 2)
          i += 1
        }
        VarArray(va.dims, out)
      }
    }
    val xds = era5ds(Map("time" -> 4)).mapBlocks(coarsen)
    assert(xds.template.dimSizes("time") == 6L)
    assert(xds.chunkSizes("time") == 2)
    val keys = xds.chunkDataset.collect().map(_._1.offsets("time")).sorted
    assert(keys.toSeq == Seq(0L, 2L, 4L))
  }

  test("mean over dims matches direct computation") {
    val xds = era5ds().mean(Set("time"))
    val (_, c) = xds.collectConsolidated()
    val orig = Fixtures.era5()("temperature")._2
    val (s, n) = orig.sumCount(Array(0), skipna = true)
    val expect = s.zipF64(n)(_ / _)
    assert(c.vars("temperature").arr.allClose(expect, 1e-12))
    // meanGlobal reduces everything to one scalar per var
    val (_, g) = era5ds().meanGlobal().collectConsolidated()
    assert(g.vars("temperature").arr.size == 1)
  }

  test("sum/min/max/var/std reductions match direct computation " +
    "(the reference's missing combiners, combiners.py:29)") {
    val orig = Fixtures.era5()("temperature")._2
    def chunked(kind: String): NdArray = {
      val xds = kind match {
        case "sum" => era5ds().sum(Set("time"))
        case "min" => era5ds().min(Set("time"))
        case "max" => era5ds().max(Set("time"))
        case "var" => era5ds().variance(Set("time"))
        case "std" => era5ds().std(Set("time"))
      }
      xds.collectConsolidated()._2.vars("temperature").arr
    }
    val (s, n) = orig.sumCount(Array(0), skipna = true)
    assert(chunked("sum").allClose(s, 1e-12))
    assert(chunked("min").sameAs(orig.extreme(Array(0), skipna = true, isMin = true)))
    assert(chunked("max").sameAs(orig.extreme(Array(0), skipna = true, isMin = false)))
    val (s2, q2, c2) = orig.sumSqCount(Array(0), skipna = true)
    val expectVar = NdArray.zeros(DType.F64, s2.shape)
    (0L until s2.size).foreach { i =>
      val (sv, qv, cv) = (s2.getDouble(i), q2.getDouble(i), c2.getDouble(i))
      expectVar.setDouble(i, (qv - sv * sv / cv) / cv)
    }
    assert(chunked("var").allClose(expectVar, 1e-10))
    assert(chunked("std").allClose(expectVar.mapF64(math.sqrt), 1e-10))
  }

  test("reductions leave variables that span none of the reduced dims " +
    "unchanged (replicas dedup, never combine)") {
    // v2d spans (t, x); v1d spans only x — the scan replicates v1d into
    // every t-chunk, and summing those replicas would yield 3·v
    val v2d = arange(DType.F64, 6, 4)
    val v1d = NdArray.fromDoubles(DType.F64, Array(4), Array(10.0, 20.0, 30.0, 40.0))
    def ds = XbeamDataset.fromLocal(spark,
      Map("v2d" -> (Seq("t", "x"), v2d), "v1d" -> (Seq("x"), v1d)),
      chunks = Map("t" -> 2))
    val summed = ds.sum(Set("t")).collectConsolidated()._2
    assert(summed.vars("v1d").arr.sameAs(v1d)) // NOT 3x
    assert(summed.vars("v2d").arr.sameAs(v2d.sumCount(Array(0), skipna = true)._1))
    val varred = ds.variance(Set("t")).collectConsolidated()._2
    assert(varred.vars("v1d").arr.sameAs(v1d)) // NOT zero
    val med = ds.median(Set("t")).collectConsolidated()._2
    assert(med.vars("v1d").arr.sameAs(v1d))
    assert(med.vars("v2d").arr.sameAs(v2d.medianAlong(Array(0), skipna = true)))
  }

  test("min/max NaN semantics: skipna ignores, non-skipna poisons") {
    // column x=0 is NaN-free (strict min well-defined); x=1 has NaNs
    val vals = NdArray.fromDoubles(DType.F64, Array(4, 2),
      Array(1.0, Double.NaN, 3.0, 5.0, 6.0, 2.0, 4.0, Double.NaN))
    def build = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 2))
    val mSkip = build.min(Set("t")).collectConsolidated()._2.vars("v").arr
    assert(mSkip.getDouble(0) == 1.0 && mSkip.getDouble(1) == 2.0)
    val mStrict = build.min(Set("t"), skipna = false)
      .collectConsolidated()._2.vars("v").arr
    assert(mStrict.getDouble(0) == 1.0 && mStrict.getDouble(1).isNaN)
    // all-NaN column under skipna stays NaN
    val allNaN = NdArray.fromDoubles(DType.F64, Array(2, 1),
      Array(Double.NaN, Double.NaN))
    val r = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), allNaN)), chunks = Map("t" -> 1))
      .max(Set("t")).collectConsolidated()._2.vars("v").arr
    assert(r.getDouble(0).isNaN)
  }

  test("median assembles cells and interpolates (even counts, NaN skip)") {
    val orig = Fixtures.era5()("temperature")._2
    val med = era5ds().median(Set("time"))
      .collectConsolidated()._2.vars("temperature").arr
    assert(med.sameAs(orig.medianAlong(Array(0), skipna = true)))
    // hand-checked kernel semantics: odd count picks the middle, even
    // interpolates, NaNs drop under skipna
    val vals = NdArray.fromDoubles(DType.F64, Array(4, 2),
      Array(4.0, 1.0, 1.0, Double.NaN, 3.0, 2.0, 2.0, 8.0))
    val m = vals.medianAlong(Array(0), skipna = true)
    assert(m.getDouble(0) == 2.5) // (2+3)/2
    assert(m.getDouble(1) == 2.0) // median of 1,2,8
    val strict = vals.medianAlong(Array(0), skipna = false)
    assert(strict.getDouble(0) == 2.5 && strict.getDouble(1).isNaN)
  }

  test("rollingMean halo exchange matches the single-chunk computation") {
    // chunked time=4 with window 3: positions 4,5,8,9 need neighbor data
    val rolled = era5ds(Map("time" -> 4)).rollingMean("time", 3)
      .collectConsolidated()._2.vars("temperature").arr
    val single = era5ds(Map("time" -> 12)).rollingMean("time", 3)
      .collectConsolidated()._2.vars("temperature").arr
    assert(rolled.sameAs(single))
    val direct = Fixtures.era5()("temperature")._2.rollingMeanAlong(0, 3, 0)
    assert(rolled.sameAs(direct))
    // window wider than a chunk is rejected (halo would need 2 hops)
    assertThrows[IllegalArgumentException] {
      era5ds(Map("time" -> 4)).rollingMean("time", 6)
    }
  }

  test("cumsum prefix scan matches the single-chunk computation") {
    val chunked = era5ds(Map("time" -> 4)).cumsum("time")
      .collectConsolidated()._2.vars("temperature").arr
    val single = era5ds(Map("time" -> 12)).cumsum("time")
      .collectConsolidated()._2.vars("temperature").arr
    // blocked scan reassociates float additions (offset = Σ chunk
    // totals), so float results agree to tolerance, not bit-for-bit;
    // integer-valued data (the x26 gate) is exact in any order
    assert(chunked.allClose(single, 1e-9))
    val direct = Fixtures.era5()("temperature")._2.cumsumAlong(0, None)
    assert(chunked.allClose(direct, 1e-9))
    // integer-valued data: chunked == single-chunk bit-for-bit
    val ints = NdArray.fromDoubles(DType.F64, Array(6, 2),
      Array(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12).map(_.toDouble))
    def ids(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), ints)), chunks = Map("t" -> ch))
    assert(ids(2).cumsum("t").collectConsolidated()._2.vars("v").arr
      .sameAs(ids(6).cumsum("t").collectConsolidated()._2.vars("v").arr))
  }

  test("rolling(sum/min/max) reductions cross chunks like rollingMean") {
    Seq("sum", "min", "max", "var", "std").foreach { op =>
      val rolled = era5ds(Map("time" -> 4)).rolling("time", 3, op)
        .collectConsolidated()._2.vars("temperature").arr
      val direct = Fixtures.era5()("temperature")._2.rollingReduceAlong(0, 3, 0, op)
      assert(rolled.sameAs(direct), s"op $op")
    }
    // rolling count with minPeriods: the gate counts VALID observations
    // (pandas/xarray min_periods), not window positions — a window of
    // [NaN, NaN, 5] has c=3 positions but 1 valid value, so
    // min_periods=2 yields NaN where min_periods=1 yields 1
    val gap = NdArray.fromDoubles(DType.F64, Array(4),
      Array(Double.NaN, Double.NaN, 5.0, 6.0))
    val c1 = gap.rollingReduceAlong(0, 3, 0, "count", minPeriods = 1)
    assert(c1.getDouble(2) == 1.0 && c1.getDouble(3) == 2.0)
    val c2 = gap.rollingReduceAlong(0, 3, 0, "count", minPeriods = 2)
    assert(c2.getDouble(2).isNaN, "1 valid < min_periods=2 must be NaN")
    assert(c2.getDouble(3) == 2.0)
    val cc = gap.rollingCenteredAlong(0, 3, 0, 0, "count", minPeriods = 2)
    assert(cc.getDouble(1).isNaN && cc.getDouble(2) == 2.0)
    // hand-checked var/std: window [2,4,6] → mean 4, var 8/3; the
    // kernel's exact expression is (Σv² − (Σv)²/c)/c
    val vals = NdArray.fromDoubles(DType.F64, Array(3), Array(2.0, 4.0, 6.0))
    val v = vals.rollingReduceAlong(0, 3, 0, "var").getDouble(2)
    assert(v == (56.0 - 144.0 / 3) / 3)
    assert(vals.rollingReduceAlong(0, 3, 0, "std").getDouble(2) == math.sqrt(v))
    // single-element window: var 0 exactly
    assert(vals.rollingReduceAlong(0, 3, 0, "var").getDouble(0) == 0.0)
    // rolling median: odd window picks the middle, truncated even
    // window averages the two mids; NaN poisons its windows
    val mvals = NdArray.fromDoubles(DType.F64, Array(5),
      Array(4.0, 1.0, 3.0, Double.NaN, 2.0))
    val med = mvals.rollingReduceAlong(0, 3, 0, "median")
    assert(med.getDouble(0) == 4.0 && med.getDouble(1) == 2.5 &&
      med.getDouble(2) == 3.0 && med.getDouble(3).isNaN && med.getDouble(4).isNaN)
    assert(era5ds(Map("time" -> 4)).rolling("time", 3, "median")
      .collectConsolidated()._2.vars("temperature").arr.sameAs(
        Fixtures.era5()("temperature")._2.rollingReduceAlong(0, 3, 0, "median")))
    // mean op reproduces rollingMean exactly
    assert(era5ds(Map("time" -> 4)).rolling("time", 3, "mean")
      .collectConsolidated()._2.vars("temperature").arr.sameAs(
        era5ds(Map("time" -> 4)).rollingMean("time", 3)
          .collectConsolidated()._2.vars("temperature").arr))
    // minPeriods = window (xarray's default): the first window-1
    // positions are NaN, the rest match the SQL behavior
    val mp = era5ds(Map("time" -> 4)).rolling("time", 3, "sum", minPeriods = 3)
      .collectConsolidated()._2.vars("temperature").arr
    val sql = era5ds(Map("time" -> 4)).rolling("time", 3, "sum")
      .collectConsolidated()._2.vars("temperature").arr
    val lanes = mp.size / 12
    (0 until 12).foreach { t =>
      (0 until lanes.toInt).foreach { l =>
        val v = mp.getDouble(t.toLong * lanes + l)
        if (t < 2) assert(v.isNaN, s"t=$t must be NaN under minPeriods")
        else assert(v == sql.getDouble(t.toLong * lanes + l))
      }
    }
  }

  test("trend: chunked OLS slope matches the closed form; NaNs drop") {
    // v = 3t + lane  →  slope exactly 3 everywhere, any chunking
    val vals = NdArray.fromDoubles(DType.F64, Array(6, 2),
      Array.tabulate(12)(i => 3.0 * (i / 2) + (i % 2)))
    def ds(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
    val slope = ds(2).trend("t").collectConsolidated()._2.vars("v").arr
    assert(slope.getDouble(0) == 3.0 && slope.getDouble(1) == 3.0)
    assert(slope.sameAs(ds(6).trend("t").collectConsolidated()._2.vars("v").arr))
    // a NaN point drops under skipna (slope of the remaining exact line);
    // fewer than 2 valid points → NaN
    val nv = NdArray.fromDoubles(DType.F64, Array(4, 2), Array(
      0.0, Double.NaN, 2.0, Double.NaN, Double.NaN, Double.NaN, 6.0, 1.0))
    val nds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), nv)), chunks = Map("t" -> 2))
    val ns = nds.trend("t").collectConsolidated()._2.vars("v").arr
    assert(ns.getDouble(0) == 2.0) // points (0,0),(1,2),(3,6): exact line
    assert(ns.getDouble(1).isNaN)  // single valid point
  }

  test("ffill with limit stops past the gap, across chunk boundaries") {
    // lane 0: value at t=1 then NaNs — limit 2 fills t=2,3 only (t=3
    // sits in the second chunk at ch=3, so the limited fill crosses)
    val m = 9
    val vals = NdArray.fill(DType.F64, Array(m, 1), Double.NaN)
    vals.setDouble(1, 10.0)
    vals.setDouble(7, 20.0)
    def ds(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
    val f = ds(3).ffill("t", limit = 2).collectConsolidated()._2.vars("v").arr
    assert(f.getDouble(0).isNaN)
    assert(f.getDouble(1) == 10.0 && f.getDouble(2) == 10.0 && f.getDouble(3) == 10.0)
    assert(f.getDouble(4).isNaN && f.getDouble(5).isNaN && f.getDouble(6).isNaN)
    assert(f.getDouble(7) == 20.0 && f.getDouble(8) == 20.0)
    // chunked == single-chunk
    assert(f.sameAs(ds(9).ffill("t", limit = 2)
      .collectConsolidated()._2.vars("v").arr))
    // unlimited ffill fills everything after t=1
    assert(!ds(3).ffill("t").collectConsolidated()._2.vars("v").arr
      .getDouble(6).isNaN)
    // bfill limit: only t=5,6 reach back from the value at t=7
    val b = ds(3).bfill("t", limit = 2).collectConsolidated()._2.vars("v").arr
    assert(b.getDouble(4).isNaN && b.getDouble(5) == 20.0 && b.getDouble(6) == 20.0)
    assert(b.getDouble(0) == 10.0) // t=1 is 1 ahead → within limit
    assert(b.getDouble(2).isNaN)   // t=7 is 5 ahead → beyond limit
    assert(b.getDouble(8).isNaN)   // nothing follows
    assert(b.sameAs(ds(9).bfill("t", limit = 2)
      .collectConsolidated()._2.vars("v").arr))
  }

  test("interpolateNa fills interior gaps across chunk boundaries only") {
    // lane 0: valid at t=1 and t=9 (different chunks at ch=4) → linear
    // bridge across two chunk boundaries; lane 1: leading/trailing NaNs
    // around one point stay NaN
    val m = 12
    val vals = NdArray.fill(DType.F64, Array(m, 2), Double.NaN)
    vals.setDouble(1L * 2, 10.0)   // t=1, lane 0
    vals.setDouble(9L * 2, 50.0)   // t=9, lane 0
    vals.setDouble(5L * 2 + 1, 7.0) // t=5, lane 1
    def ds(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
    val filled = ds(4).interpolateNa("t").collectConsolidated()._2.vars("v").arr
    assert(filled.getDouble(0).isNaN)          // before first valid
    assert(filled.getDouble(1 * 2) == 10.0)
    assert(filled.getDouble(5 * 2) == 30.0)    // 10 + (50-10)*(5-1)/(9-1)
    assert(filled.getDouble(9 * 2) == 50.0)
    assert(filled.getDouble(11 * 2).isNaN)     // after last valid
    assert(filled.getDouble(4 * 2 + 1).isNaN && filled.getDouble(5 * 2 + 1) == 7.0)
    // chunked == single-chunk bit-for-bit (same expression per position)
    assert(filled.sameAs(
      ds(12).interpolateNa("t").collectConsolidated()._2.vars("v").arr))
    // max_gap: lane 0's run spans 9-1 = 8 index steps endpoint-to-
    // endpoint — a bound of 8 fills it, anything under voids it; the
    // bound is chunk-independent
    for (ch <- Seq(4, 12)) {
      val wide = ds(ch).interpolateNa("t", maxGap = 8.0)
        .collectConsolidated()._2.vars("v").arr
      assert(wide.getDouble(5 * 2) == 30.0, s"ch=$ch")
      val tight = ds(ch).interpolateNa("t", maxGap = 7.0)
        .collectConsolidated()._2.vars("v").arr
      assert(tight.getDouble(5 * 2).isNaN, s"ch=$ch")
      assert(tight.getDouble(1 * 2) == 10.0, s"ch=$ch") // valids survive
    }
    assertThrows[IllegalArgumentException](ds(4).interpolateNa("t", 0.0))
  }

  test("resampleMean buckets by calendar period from the datetime coord") {
    // 10 daily steps from Jan 28: Jan gets 4 positions, Feb 6
    val baseNs = java.time.Instant.parse("2020-01-28T00:00:00Z")
      .getEpochSecond * 1000000000L
    val day = 24L * 3600 * 1000000000L
    val coord = NdArray.fromLongs(DType.TimeNs, Array(10),
      Array.tabulate(10)(i => baseNs + i * day))
    val vals = NdArray.fromDoubles(DType.F64, Array(10, 2),
      Array.tabulate(20)(i => (i / 2).toDouble))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
      chunks = Map("t" -> 4))
    val r = ds.resampleMean("t", "month")
    assert(r.template.dimSizes("t") == 2)
    val got = r.collectConsolidated()._2
    // Jan mean = (0+1+2+3)/4, Feb mean = (4+..+9)/6, both lanes
    assert(got.vars("v").arr.getDouble(0) == 1.5)
    assert(got.vars("v").arr.getDouble(2) == 6.5)
    // new coord = period starts
    val starts = r.template.coords("t").toLongs
    assert(starts(0) == java.time.Instant.parse("2020-01-01T00:00:00Z")
      .getEpochSecond * 1000000000L)
    assert(starts(1) == java.time.Instant.parse("2020-02-01T00:00:00Z")
      .getEpochSecond * 1000000000L)
    // the generalized reductions share the bucket machinery
    val mx = ds.resampleReduce("t", "month", "max")
      .collectConsolidated()._2.vars("v").arr
    assert(mx.getDouble(0) == 3.0 && mx.getDouble(2) == 9.0)
    val sm = ds.resampleReduce("t", "month", "sum")
      .collectConsolidated()._2.vars("v").arr
    assert(sm.getDouble(0) == 6.0 && sm.getDouble(2) == 39.0)
    // the round-10 reduction kinds ride the same bucket machinery
    val ct = ds.resampleReduce("t", "month", "count")
      .collectConsolidated()._2.vars("v").arr
    assert(ct.getDouble(0) == 4.0 && ct.getDouble(2) == 6.0)
    val pr = ds.resampleReduce("t", "month", "prod")
      .collectConsolidated()._2.vars("v").arr
    assert(pr.getDouble(0) == 0.0) // 0*1*2*3
    assert(pr.getDouble(2) == 60480.0) // 4*5*6*7*8*9
    // week buckets break on ISO Mondays: Jan 28 2020 is a Tuesday, so
    // the first week (Mon Jan 27) holds Jan 28–Feb 2 = 6 positions
    val wk = ds.resampleReduce("t", "week", "count")
    assert(wk.template.dimSizes("t") == 2)
    val wkArr = wk.collectConsolidated()._2.vars("v").arr
    assert(wkArr.getDouble(0) == 6.0 && wkArr.getDouble(2) == 4.0)
    assert(wk.template.coords("t").toLongs.head ==
      java.time.Instant.parse("2020-01-27T00:00:00Z")
        .getEpochSecond * 1000000000L)
    // the whole span sits in Q1: quarter yields one bucket at Jan 1
    val qt = ds.resampleReduce("t", "quarter", "count")
    assert(qt.template.dimSizes("t") == 1)
    assert(qt.template.coords("t").toLongs.head ==
      java.time.Instant.parse("2020-01-01T00:00:00Z")
        .getEpochSecond * 1000000000L)
    // a coord that runs backwards is rejected
    val bad = NdArray.fromLongs(DType.TimeNs, Array(10),
      Array.tabulate(10)(i => baseNs - i * day))
    assertThrows[IllegalArgumentException] {
      XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> bad),
        chunks = Map("t" -> 4)).resampleMean("t", "month")
    }
  }

  test("rename/expandDims/squeeze/dropVars are metadata-only reshapes") {
    val xds = era5ds()
    val rn = xds.rename(Map("time" -> "t", "temperature" -> "temp"))
    assert(rn.template.dimOrder == Seq("t", "latitude", "longitude"))
    assert(rn.template.vars.contains("temp") && !rn.template.vars.contains("temperature"))
    assert(rn.collectConsolidated()._2.vars("temp").arr
      .sameAs(Fixtures.era5()("temperature")._2))
    assertThrows[IllegalArgumentException] { xds.rename(Map("nope" -> "x")) }
    assertThrows[IllegalArgumentException] { xds.rename(Map("time" -> "precip")) }
    val ex = xds.expandDims("member")
    assert(ex.template.dimOrder.head == "member" &&
      ex.template.dimSizes("member") == 1)
    val back = ex.squeeze("member")
    assert(back.template.dimOrder == xds.template.dimOrder)
    assert(back.collectConsolidated()._2.vars("temperature").arr
      .sameAs(Fixtures.era5()("temperature")._2))
    assertThrows[IllegalArgumentException] { xds.squeeze("time") } // size 12
    assert(xds.dropVars(Set("precip")).template.vars.keySet == Set("temperature"))
  }

  test("zscore standardizes: mean ~0, std ~1 per lane") {
    val z = era5ds().zscore(Set("time")).collectConsolidated()._2
      .vars("temperature").arr
    val orig = Fixtures.era5()("temperature")._2
    val lanes = orig.shape(1) * orig.shape(2)
    val m = orig.shape(0)
    (0 until lanes).foreach { l =>
      var s = 0.0
      var q = 0.0
      (0 until m).foreach { t =>
        val v = z.getDouble(t.toLong * lanes + l); s += v; q += v * v
      }
      assert(math.abs(s / m) < 1e-9, s"lane $l mean")
      assert(math.abs(q / m - 1.0) < 1e-9, s"lane $l var")
    }
  }

  test("interpLinear resamples onto a new grid across chunk boundaries") {
    // coord 0,10,20,..,110 chunked t=4; targets hit exact points, span
    // chunk boundaries (35 brackets 30|40 within chunk 0's edge, 75
    // brackets 70(chunk1)|80(chunk2)), and use non-half weights
    val vals = NdArray.fromDoubles(DType.F64, Array(12, 2),
      Array.tabulate(24)(i => ((i / 2) * (i / 2)).toDouble)) // v = t²
    val coord = NdArray.fromDoubles(DType.F64, Array(12),
      Array.tabulate(12)(i => i * 10.0))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
      chunks = Map("t" -> 4))
    val r = ds.interpLinear("t", Array(0.0, 35.0, 75.0, 102.0, 110.0))
    assert(r.template.dimSizes("t") == 5)
    val got = r.collectConsolidated()._2.vars("v").arr
    def lane0(i: Int) = got.getDouble(i.toLong * 2)
    assert(lane0(0) == 0.0)                      // exact hit t=0
    assert(lane0(1) == 9.0 + 0.5 * (16.0 - 9.0)) // w=0.5 between 3²,4²
    assert(lane0(2) == 49.0 + 0.5 * (64.0 - 49.0)) // crosses chunks 1→2
    assert(lane0(3) == (1 - 0.2) * 100.0 + 0.2 * 121.0) // w=0.2
    assert(lane0(4) == 121.0)                    // exact hit at the end
    // new coord = targets; out-of-range target rejected
    assert(r.template.coords("t").toDoubles.toSeq ==
      Seq(0.0, 35.0, 75.0, 102.0, 110.0))
    assertThrows[IllegalArgumentException] {
      ds.interpLinear("t", Array(-1.0))
    }
  }

  test("interpNearest snaps to the closest row; midpoint ties take the lower") {
    val vals = NdArray.fromDoubles(DType.F64, Array(12, 2),
      Array.tabulate(24)(i => ((i / 2) * (i / 2)).toDouble)) // v = t²
    val coord = NdArray.fromDoubles(DType.F64, Array(12),
      Array.tabulate(12)(i => i * 10.0))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
      chunks = Map("t" -> 4))
    // exact hit, snap down (34→30), snap up (36→40), a chunk-crossing
    // snap (75 is the 70|80 midpoint → ties take the LOWER → 70), end
    val r = ds.interpNearest("t", Array(0.0, 34.0, 36.0, 75.0, 110.0))
    val got = r.collectConsolidated()._2.vars("v").arr
    def lane0(i: Int) = got.getDouble(i.toLong * 2)
    assert(lane0(0) == 0.0)   // t=0
    assert(lane0(1) == 9.0)   // t=30 → 3²
    assert(lane0(2) == 16.0)  // t=40 → 4²
    assert(lane0(3) == 49.0)  // midpoint tie → t=70 → 7²
    assert(lane0(4) == 121.0) // t=110 → 11²
    assert(r.template.coords("t").toDoubles.toSeq ==
      Seq(0.0, 34.0, 36.0, 75.0, 110.0))
    assertThrows[IllegalArgumentException] {
      ds.interpNearest("t", Array(111.0))
    }
  }

  test("interpLinear/reindex randomized vs local brute force (seeded)") {
    val rnd = new scala.util.Random(4217)
    (1 to 5).foreach { round =>
      val n = 5 + rnd.nextInt(20)
      val coordVals = Array.iterate(rnd.nextDouble() * 10, n)(
        c => c + 0.5 + rnd.nextDouble() * 5)
      val vals = NdArray.fromDoubles(DType.F64, Array(n, 2),
        Array.fill(2 * n)(math.floor(rnd.nextDouble() * 100)))
      val ch = 1 + rnd.nextInt(n)
      val ds = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)),
        coords = Map("t" -> NdArray.fromDoubles(DType.F64, Array(n), coordVals)),
        chunks = Map("t" -> ch))
      // targets: mix of exact hits and interior points, shuffled
      val m = 3 + rnd.nextInt(12)
      val targets = Array.fill(m) {
        if (rnd.nextBoolean()) coordVals(rnd.nextInt(n))
        else {
          val i = rnd.nextInt(n - 1)
          coordVals(i) + rnd.nextDouble() * (coordVals(i + 1) - coordVals(i))
        }
      }
      val got = ds.interpLinear("t", targets)
        .collectConsolidated()._2.vars("v").arr
      targets.zipWithIndex.foreach { case (tc, j) =>
        (0 until 2).foreach { lane =>
          val i1 = coordVals.indexWhere(_ >= tc) match {
            case -1 => n - 1
            case k => k
          }
          val expect =
            if (coordVals(i1) == tc) vals.getDouble(i1.toLong * 2 + lane)
            else {
              val i0 = i1 - 1
              val w = (tc - coordVals(i0)) / (coordVals(i1) - coordVals(i0))
              val a = vals.getDouble(i0.toLong * 2 + lane)
              val b = vals.getDouble(i1.toLong * 2 + lane)
              a + (b - a) * w
            }
          val g = got.getDouble(j.toLong * 2 + lane)
          assert(math.abs(g - expect) < 1e-9,
            s"round $round target $j lane $lane: $g != $expect (ch=$ch)")
        }
      }
      // reindex: half real labels, half misses
      val labels = Array.fill(m)(
        if (rnd.nextBoolean()) coordVals(rnd.nextInt(n)) else -1.0 - rnd.nextInt(5))
      val rgot = ds.reindex("t", labels)
        .collectConsolidated()._2.vars("v").arr
      labels.zipWithIndex.foreach { case (l, j) =>
        val src = coordVals.indexOf(l)
        (0 until 2).foreach { lane =>
          val g = rgot.getDouble(j.toLong * 2 + lane)
          if (src < 0) assert(g.isNaN, s"round $round miss $j")
          else assert(g == vals.getDouble(src.toLong * 2 + lane),
            s"round $round label $j lane $lane (ch=$ch)")
        }
      }
    }
  }

  test("reindex aligns by exact label; missing labels (and whole missing " +
    "chunks) fill NaN") {
    val vals = NdArray.fromDoubles(DType.F64, Array(8, 2),
      Array.tabulate(16)(i => (100 + i).toDouble))
    val coord = NdArray.fromDoubles(DType.F64, Array(8),
      Array.tabulate(8)(i => i * 10.0))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
      chunks = Map("t" -> 4))
    // labels: [70, 999, 30, 0] (mixed order, one miss) then a WHOLE
    // output chunk of misses [991..994] → the filler path
    val r = ds.reindex("t", Array(70.0, 999.0, 30.0, 0.0,
      991.0, 992.0, 993.0, 994.0))
    assert(r.template.dimSizes("t") == 8)
    val got = r.collectConsolidated()._2.vars("v").arr
    def lane0(i: Int) = got.getDouble(i.toLong * 2)
    assert(lane0(0) == 114.0) // label 70 = src pos 7 → 100 + 7*2
    assert(lane0(1).isNaN)
    assert(lane0(2) == 106.0) // label 30 = src pos 3
    assert(lane0(3) == 100.0)
    (4 until 8).foreach(i => assert(lane0(i).isNaN, s"filler pos $i"))
    assert(r.template.coords("t").toDoubles(0) == 70.0)
  }

  test("reductions pass through variables that do not span the dim") {
    // v spans (t, x); w spans x only — the scan replicates w across t
    // chunks, and a reduction over t must keep exactly one replica,
    // unchanged (xarray leaves non-dim variables alone)
    val v = NdArray.fromDoubles(DType.F64, Array(6, 2),
      Array.tabulate(12)(_.toDouble))
    val w = NdArray.fromDoubles(DType.F64, Array(2), Array(7.0, 9.0))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), v), "w" -> (Seq("x"), w)),
      chunks = Map("t" -> 2))
    Seq[XbeamDataset => XbeamDataset](
      _.sum(Set("t")), _.mean(Set("t")), _.min(Set("t")),
      _.trend("t"), _.argmin("t")
    ).foreach { op =>
      val out = op(ds).collectConsolidated()._2
      assert(out.vars("w").arr.toDoubles.toSeq == Seq(7.0, 9.0),
        s"w must pass through unchanged")
      assert(out.vars("w").dims == Seq("x"))
    }
  }

  test("stack flattens row-major and unstack inverts it, chunking intact") {
    // (time 12, lat 5, lon 6) with lat/lon single-chunk → stack the
    // trailing pair into "cell" (30 per time step)
    val xds = era5ds(Map("time" -> 4))
    val st = xds.stack(Seq("latitude", "longitude"), "cell")
    assert(st.template.dimOrder == Seq("time", "cell"))
    assert(st.template.dimSizes("cell") == 30)
    val orig = Fixtures.era5()("temperature")._2
    val flat = st.collectConsolidated()._2.vars("temperature").arr
    // row-major flatten: same buffer order
    assert(java.util.Arrays.equals(flat.data, orig.data))
    // unstack back: identity
    val back = st.unstack("cell", "latitude", "longitude", 6)
    assert(back.template.dimSizes("latitude") == 5)
    assert(back.collectConsolidated()._2.vars("temperature").arr.sameAs(orig))
    // a chunked TRAILING dim is rejected (cells would interleave);
    // a chunked LEADING dim is fine — lat-2 × full-lon blocks stay
    // contiguous
    assertThrows[IllegalArgumentException] {
      era5ds(Map("time" -> 4, "latitude" -> 2)).stack(Seq("time", "latitude"), "c")
    }
    assert(era5ds(Map("time" -> 4, "latitude" -> 2))
      .stack(Seq("latitude", "longitude"), "c").template.dimSizes("c") == 30)
    // non-dividing inner size rejected
    assertThrows[IllegalArgumentException] {
      st.unstack("cell", "a", "b", 7)
    }
  }

  test("stack/unstack randomized roundtrips (seeded)") {
    val rnd = new scala.util.Random(90210)
    (1 to 5).foreach { round =>
      val n1 = 2 + rnd.nextInt(10)
      val n2 = 1 + rnd.nextInt(8)
      val ch = 1 + rnd.nextInt(n1)
      val vals = NdArray.fromDoubles(DType.F64, Array(n1, n2),
        Array.fill(n1 * n2)(rnd.nextInt(1000).toDouble))
      val ds = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("a", "b"), vals)), chunks = Map("a" -> ch))
      val st = ds.stack(Seq("a", "b"), "s")
      val flat = st.collectConsolidated()._2.vars("v").arr
      assert(java.util.Arrays.equals(flat.data, vals.data),
        s"round $round: row-major buffer identity (ch=$ch, $n1 x $n2)")
      val back = st.unstack("s", "a", "b", n2)
      assert(back.collectConsolidated()._2.vars("v").arr.sameAs(vals),
        s"round $round: unstack inverse (ch=$ch)")
    }
  }

  test("integrate: trapezoid vs hand computation, non-uniform spacing") {
    // v = [1, 3, 2, 6] at c = [0, 1, 3, 7]:
    // (1+3)/2·1 + (3+2)/2·2 + (2+6)/2·4 = 2 + 5 + 16 = 23
    val vals = NdArray.fromDoubles(DType.F64, Array(4, 2),
      Array(1.0, 10.0, 3.0, 30.0, 2.0, 20.0, 6.0, 60.0))
    val coord = NdArray.fromDoubles(DType.F64, Array(4),
      Array(0.0, 1.0, 3.0, 7.0))
    def ds(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
      chunks = Map("t" -> ch))
    val got = ds(2).integrate("t").collectConsolidated()._2.vars("v").arr
    assert(got.getDouble(0) == 23.0)
    assert(got.getDouble(1) == 230.0)
    // chunked == single-chunk (exact dyadic partials)
    assert(got.sameAs(ds(4).integrate("t").collectConsolidated()._2.vars("v").arr))
    // cumulative form: running areas [0, 2, 7, 23] for lane 0
    val cum = ds(2).cumulativeIntegrate("t").collectConsolidated()._2.vars("v").arr
    assert((0 until 4).map(t => cum.getDouble(t * 2L)) == Seq(0.0, 2.0, 7.0, 23.0))
  }

  test("differentiate: central differences vs hand computation, any chunking") {
    // values v = [1, 4, 9, 16, 25, 36] over coord c = [0, 1, 3, 6, 10, 15]
    // (non-uniform spacing); edge_order=1 gradient hand-computed
    val v = Array(1.0, 4.0, 9.0, 16.0, 25.0, 36.0)
    val c = Array(0.0, 1.0, 3.0, 6.0, 10.0, 15.0)
    val expect = Array(
      (v(1) - v(0)) / (c(1) - c(0)),
      (v(2) - v(0)) / (c(2) - c(0)),
      (v(3) - v(1)) / (c(3) - c(1)),
      (v(4) - v(2)) / (c(4) - c(2)),
      (v(5) - v(3)) / (c(5) - c(3)),
      (v(5) - v(4)) / (c(5) - c(4)))
    for (ch <- Seq(2, 3, 6)) { // incl. ragged (6 % 4 != 0 avoided; 2,3 divide)
      val got = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(6), v))),
        coords = Map("t" -> NdArray.fromDoubles(DType.F64, Array(6), c)),
        chunks = Map("t" -> ch))
        .differentiate("t").collectConsolidated()._2.vars("v").arr
      assert(got.sameAs(NdArray.fromDoubles(DType.F64, Array(6), expect)),
        s"chunks=$ch")
    }
    // ragged last chunk: 6 over chunk 4 → extents 4, 2
    val ragged = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(6), v))),
      coords = Map("t" -> NdArray.fromDoubles(DType.F64, Array(6), c)),
      chunks = Map("t" -> 4))
      .differentiate("t").collectConsolidated()._2.vars("v").arr
    assert(ragged.sameAs(NdArray.fromDoubles(DType.F64, Array(6), expect)))
    // a missing coordinate is rejected
    assertThrows[IllegalArgumentException] {
      XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(6), v))),
        chunks = Map("t" -> 3)).differentiate("t")
    }
  }

  test("groupbyBinsMean groups cells by value bin across chunks") {
    // by-values 0..11 → bins [0,4): 0-3, [4,8): 4-7, [8,11]: 8-11
    val by = NdArray.fromDoubles(DType.F64, Array(6, 2),
      Array.tabulate(12)(_.toDouble))
    val other = by.mapF64(_ * 10)
    def ds(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("g" -> (Seq("t", "x"), by), "v" -> (Seq("t", "x"), other)),
      chunks = Map("t" -> ch))
    val r = ds(2).groupbyBinsMean("g", Array(0.0, 4.0, 8.0, 11.0))
    assert(r.template.dimSizes("bin") == 3)
    val got = r.collectConsolidated()._2
    assert(got.vars("g").arr.toDoubles.toSeq == Seq(1.5, 5.5, 9.5))
    assert(got.vars("v").arr.toDoubles.toSeq == Seq(15.0, 55.0, 95.0))
    // chunking-invariant (integer sums) and bin coord = left edges
    assert(got.vars("v").arr.sameAs(
      ds(6).groupbyBinsMean("g", Array(0.0, 4.0, 8.0, 11.0))
        .collectConsolidated()._2.vars("v").arr))
    assert(r.template.coords("bin").toDoubles.toSeq == Seq(0.0, 4.0, 8.0))
  }

  test("shift crosses chunk boundaries; leading positions are NaN") {
    val shifted = era5ds(Map("time" -> 4)).shift("time", 2)
      .collectConsolidated()._2.vars("temperature").arr
    val orig = Fixtures.era5()("temperature")._2
    assert(shifted.getDouble(0).isNaN) // t=0 has no history
    // t=5 (second chunk) must see t=3 (last slice of the first chunk)
    val lanes = orig.shape(1) * orig.shape(2)
    (0 until lanes).foreach { l =>
      assert(shifted.getDouble(5L * lanes + l) == orig.getDouble(3L * lanes + l))
    }
  }

  test("quantile interpolates linearly and matches the single-chunk run") {
    val chunked = era5ds(Map("time" -> 4)).quantile(0.25, Set("time"))
      .collectConsolidated()._2.vars("temperature").arr
    val direct = Fixtures.era5()("temperature")._2
      .quantileAlong(Array(0), 0.25, skipna = true)
    assert(chunked.sameAs(direct))
    // hand-checked: sorted [1,2,4,8], q=0.25 → h=0.75 → 1 + 0.75*(2-1)
    val vals = NdArray.fromDoubles(DType.F64, Array(4), Array(8.0, 1.0, 4.0, 2.0))
    assert(vals.quantileAlong(Array(0), 0.25, skipna = true).getDouble(0) == 1.75)
    assert(vals.quantileAlong(Array(0), 0.0, skipna = true).getDouble(0) == 1.0)
    assert(vals.quantileAlong(Array(0), 1.0, skipna = true).getDouble(0) == 8.0)
    assert(vals.quantileAlong(Array(0), 0.5, skipna = true).getDouble(0) == 3.0)
  }

  test("median under a cell byte cap splits kept chunks, same result") {
    // long reduced extent: 256 time steps × 32 x lanes; uncapped the
    // cell would hold 32×256×8 = 64 KiB per task — cap at 4 KiB so the
    // kept chunk must split 32 → 2 to fit, then consolidate back
    val vals = NdArray.fromDoubles(DType.F64, Array(256, 32),
      Array.tabulate(256 * 32)(i => ((i * 131) % 977).toDouble))
    val v1d = arange(DType.F64, 32)
    def build = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals), "vx" -> (Seq("x"), v1d)),
      chunks = Map("t" -> 16))
    val uncapped = build.median(Set("t"))
    spark.conf.set("spark.graft.cellwise.maxBytes", "4096")
    try {
      val capped = build.median(Set("t"))
      // output chunking is unchanged — the split is internal
      assert(capped.chunkSizes == uncapped.chunkSizes)
      val got = capped.collectConsolidated()._2
      assert(got.vars("v").arr.sameAs(
        vals.medianAlong(Array(0), skipna = true)))
      assert(got.vars("vx").arr.sameAs(v1d)) // replica path still one copy
      val q = build.quantile(0.25, Set("t")).collectConsolidated()._2
      assert(q.vars("v").arr.sameAs(
        vals.quantileAlong(Array(0), 0.25, skipna = true)))
    } finally spark.conf.unset("spark.graft.cellwise.maxBytes")
  }

  test("rank: average ties, NaN passthrough, cross-chunk and capped") {
    // hand-checked kernel: [3, 1, 3, NaN, 2] → ranks [3.5, 1, 3.5, NaN, 2]
    val vals = NdArray.fromDoubles(DType.F64, Array(5),
      Array(3.0, 1.0, 3.0, Double.NaN, 2.0))
    val r = vals.rankAlong(0)
    assert(r.getDouble(0) == 3.5 && r.getDouble(1) == 1.0 &&
      r.getDouble(2) == 3.5 && r.getDouble(3).isNaN && r.getDouble(4) == 2.0)
    // distributed rank equals the single-array kernel, any chunking
    val direct = Fixtures.era5()("temperature")._2.rankAlong(0)
    for (ch <- Seq(3, 4, 12)) {
      val got = era5ds(Map("time" -> ch)).rank("time")
        .collectConsolidated()._2.vars("temperature").arr
      assert(got.sameAs(direct), s"chunks=$ch")
    }
    // memory cap engaged: kept chunks split, same ranks; an untouched
    // 1-d var must still replicate exactly once per output chunk
    val grid2 = NdArray.fromDoubles(DType.F64, Array(64, 32),
      Array.tabulate(64 * 32)(i => ((i * 131) % 23).toDouble)) // many ties
    val v1d = arange(DType.F64, 32)
    def build = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), grid2), "vx" -> (Seq("x"), v1d)),
      chunks = Map("t" -> 16))
    val uncapped = build.rank("t").collectConsolidated()._2
    spark.conf.set("spark.graft.cellwise.maxBytes", "4096")
    try {
      val capped = build.rank("t").collectConsolidated()._2
      assert(capped.vars("v").arr.sameAs(uncapped.vars("v").arr))
      assert(capped.vars("v").arr.sameAs(grid2.rankAlong(0)))
      assert(capped.vars("vx").arr.sameAs(v1d))
    } finally spark.conf.unset("spark.graft.cellwise.maxBytes")
    // pct: rank / VALID count — NaN excluded from the denominator
    val withNaN = NdArray.fromDoubles(DType.F64, Array(5, 1),
      Array(3.0, 1.0, 3.0, Double.NaN, 2.0))
    val pr = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), withNaN)), chunks = Map("t" -> 2))
      .rank("t", pct = true).collectConsolidated()._2.vars("v").arr
    assert(pr.getDouble(0) == 3.5 / 4 && pr.getDouble(1) == 1.0 / 4 &&
      pr.getDouble(3).isNaN && pr.getDouble(4) == 2.0 / 4)
  }

  test("rank capped path: non-multiple kept split lands on the global grid") {
    // kept chunk 5 capped to target 3: the chunk at offset 5 must
    // produce sub-chunks at offsets {5, 6, 9} (the global splitBounds
    // grid the spanning vars use) — a chunk-local `off + k*step`
    // enumeration would yield {5, 8} and orphan the untouched vars
    val grid = NdArray.fromDoubles(DType.F64, Array(8, 10, 4),
      Array.tabulate(320)(i => ((i * 37) % 11).toDouble)) // ties included
    val vx = arange(DType.F64, 10)
    val vy = arange(DType.F64, 4)
    def build = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x", "y"), grid),
        "vx" -> (Seq("x"), vx), "vy" -> (Seq("y"), vy)),
      chunks = Map("t" -> 4, "x" -> 5))
    val expect = grid.rankAlong(0)
    assert(build.rank("t").collectConsolidated()._2.vars("v").arr
      .sameAs(expect))
    // cap 800 B: cell = keptX·keptY·tExtent·8 = 5·4·8·8 = 1280 → halve
    // x to 3 (768 ≤ 800); x=3 does not divide the source chunk 5
    spark.conf.set("spark.graft.cellwise.maxBytes", "800")
    try {
      val capped = build.rank("t").collectConsolidated()._2
      assert(capped.vars("v").arr.sameAs(expect))
      assert(capped.vars("vx").arr.sameAs(vx)) // sliced along split dim
      assert(capped.vars("vy").arr.sameAs(vy)) // replicated per sub-chunk
    } finally spark.conf.unset("spark.graft.cellwise.maxBytes")
  }

  test("ewm matches the sequential recurrence exactly, any chunking") {
    // hand-checked: x=[3,1,4,1,5], α=0.5 → y=[3, 2, 3, 2, 3.5]
    val lane = NdArray.fromDoubles(DType.F64, Array(5),
      Array(3.0, 1.0, 4.0, 1.0, 5.0))
    assert(lane.ewmAlong(0, 0.5, None).toDoubles.toSeq ==
      Seq(3.0, 2.0, 3.0, 2.0, 3.5))
    // Integer-valued data + dyadic α on a ≤40 lane keeps every step an
    // exactly-representable dyadic, so distributed == single-array
    // kernel BIT-EXACTLY on both scan routes — the property the x59
    // oracle gate leans on. (Fractional data may differ by affine-seam
    // reassociation ULPs; checked with a tolerance below.)
    val grid = NdArray.fromDoubles(DType.F64, Array(32, 6),
      Array.tabulate(192)(i => ((i * 37) % 11).toDouble))
    val direct = grid.ewmAlong(0, 0.5, None)
    def build = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), grid)), chunks = Map("t" -> 8))
    def check(expectExchanges: Int): Unit = {
      val out = build.ewm("t", 0.5)
      assert(exchanges(out) == expectExchanges)
      assert(out.collectConsolidated()._2.vars("v").arr.sameAs(direct))
    }
    check(1) // fused lane scan
    withDriverSeeds(check(0))
    // fractional data: equal to the sequential recurrence within
    // reassociation ULPs
    val dirEra = Fixtures.era5()("temperature")._2.ewmAlong(0, 0.5, None)
    val gotEra = era5ds(Map("time" -> 4)).ewm("time", 0.5)
      .collectConsolidated()._2.vars("temperature").arr
    assert(gotEra.shape.sameElements(dirEra.shape))
    var i = 0L
    while (i < dirEra.size) {
      val a = dirEra.getDouble(i); val b = gotEra.getDouble(i)
      assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(a)),
        s"flat=$i: $a vs $b")
      i += 1
    }
    // NaN poisons from first occurrence onward, like the recurrence
    val nan = NdArray.fromDoubles(DType.F64, Array(4),
      Array(2.0, Double.NaN, 6.0, 8.0))
    val y = nan.ewmAlong(0, 0.5, None).toDoubles
    assert(y(0) == 2.0 && y(1).isNaN && y(2).isNaN && y(3).isNaN)
  }

  test("centered rolling: symmetric odd, left-heavy even, any chunking") {
    // [10, 20, 30, 40, 50]: center w=3 sums → [30, 60, 90, 120, 90]
    val lane = NdArray.fromDoubles(DType.F64, Array(5, 1),
      Array(10.0, 20.0, 30.0, 40.0, 50.0))
    def sums(w: Int, ch: Int): Seq[Double] = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), lane)), chunks = Map("t" -> ch))
      .rolling("t", w, "sum", center = true)
      .collectConsolidated()._2.vars("v").arr.toDoubles.toSeq
    for (ch <- Seq(2, 3, 5)) {
      assert(sums(3, ch) == Seq(30.0, 60.0, 90.0, 120.0, 90.0), s"ch=$ch")
      // even w=4: pandas convention [i-2, i+1]
      assert(sums(4, ch) == Seq(30.0, 60.0, 100.0, 140.0, 120.0), s"ch=$ch")
    }
    // centered mean equals the trailing mean shifted by (w-1)/2
    val grid = Fixtures.era5()("temperature")._2
    val trailing = grid.rollingReduceAlong(0, 5, 0, "mean")
    val centered = era5ds(Map("time" -> 4))
      .rolling("time", 5, "mean", center = true)
      .collectConsolidated()._2.vars("temperature").arr
    val lanes = grid.shape(1) * grid.shape(2)
    for (t <- 0 until grid.shape(0) - 2; l <- 0 until lanes)
      assert(centered.getDouble(t.toLong * lanes + l) ==
        trailing.getDouble((t + 2).toLong * lanes + l), s"t=$t l=$l")
  }

  test("count/prod reductions: NaN skipping, identity cells, chunking") {
    // lane [2, NaN, 3, NaN]: count 2, prod 6; all-NaN lane: count 0, prod 1
    val vals = NdArray.fromDoubles(DType.F64, Array(4, 2), Array(
      2.0, Double.NaN,
      Double.NaN, Double.NaN,
      3.0, Double.NaN,
      Double.NaN, Double.NaN))
    for (ch <- Seq(2, 4)) {
      val ds = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
      val cnt = ds.count(Set("t")).collectConsolidated()._2.vars("v").arr
      assert(cnt.getDouble(0) == 2.0 && cnt.getDouble(1) == 0.0, s"ch=$ch")
      val prd = ds.prod(Set("t")).collectConsolidated()._2.vars("v").arr
      assert(prd.getDouble(0) == 6.0 && prd.getDouble(1) == 1.0, s"ch=$ch")
      // skipna=false: NaN poisons the product
      val prd2 = ds.prod(Set("t"), skipna = false)
        .collectConsolidated()._2.vars("v").arr
      assert(prd2.getDouble(0).isNaN && prd2.getDouble(1).isNaN, s"ch=$ch")
    }
  }

  test("quantiles: multi-q equals per-q, one consolidation; capped too") {
    val ds = era5ds(Map("time" -> 4))
    val multi = ds.quantiles(Seq(0.25, 0.5, 0.75), Set("time"))
      .collectConsolidated()._2
    for (q <- Seq(0.25, 0.5, 0.75)) {
      val single = ds.quantile(q, Set("time")).collectConsolidated()._2
      val suf = s"_q${(q * 100).toInt}"
      assert(multi.vars(s"temperature$suf").arr
        .sameAs(single.vars("temperature").arr), s"q=$q")
    }
    // under the memory cap (kept chunks split + consolidate back) the
    // suffixed outputs still assemble correctly
    spark.conf.set("spark.graft.cellwise.maxBytes", "4096")
    try {
      val capped = ds.quantiles(Seq(0.25, 0.75), Set("time"))
        .collectConsolidated()._2
      assert(capped.vars("temperature_q25").arr.sameAs(
        multi.vars("temperature_q25").arr))
      assert(capped.vars("temperature_q75").arr.sameAs(
        multi.vars("temperature_q75").arr))
    } finally spark.conf.unset("spark.graft.cellwise.maxBytes")
    // non-dyadic q: the suffix rounds the binary double (0.1*100 =
    // 10.000000000000002) and swaps '.' for 'p' so names stay plain
    // SQL identifiers
    val odd = ds.quantiles(Seq(0.1, 0.125, 1.0 / 3), Set("time"))
    assert(odd.template.vars.keySet.filter(_.startsWith("temperature_q")) ==
      Set("temperature_q10", "temperature_q12p5",
        "temperature_q33p333333"))
  }

  test("variance/std ddof: sample divisor, NaN when n <= ddof") {
    // lane [1, 2, 3, 4]: pop var 1.25; sample var 5/3
    val vals = NdArray.fromDoubles(DType.F64, Array(4, 1),
      Array(1.0, 2.0, 3.0, 4.0))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 2))
    def varOf(ddof: Int) = ds.variance(Set("t"), ddof = ddof)
      .collectConsolidated()._2.vars("v").arr.getDouble(0)
    assert(varOf(0) == 1.25)
    assert(varOf(1) == (30.0 - 100.0 / 4) / 3) // exact expression order
    assert(ds.std(Set("t"), ddof = 1).collectConsolidated()._2
      .vars("v").arr.getDouble(0) == math.sqrt((30.0 - 100.0 / 4) / 3))
    // n == ddof → NaN, never a division blow-up
    val one = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(1),
        Array(7.0)))), chunks = Map("t" -> 1))
    assert(one.variance(Set("t"), ddof = 1).collectConsolidated()._2
      .vars("v").arr.getDouble(0).isNaN)
  }

  test("pad inserts NaN regions, shifts data, survives any chunking") {
    val vals = NdArray.fromDoubles(DType.F64, Array(10, 2),
      Array.tabulate(20)(_.toDouble))
    for (ch <- Seq(3, 4, 10); (b, a) <- Seq((5, 3), (4, 0), (0, 2), (1, 7))) {
      val padded = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
        .pad("t", b, a)
      assert(padded.template.dimSizes("t") == 10L + b + a)
      val got = padded.collectConsolidated()._2.vars("v").arr
      for (t <- 0 until (10 + b + a); x <- 0 until 2) {
        val g = got.getDouble(t * 2 + x)
        if (t < b || t >= 10 + b) assert(g.isNaN, s"ch=$ch pad=($b,$a) t=$t")
        else assert(g == vals.getDouble((t - b) * 2 + x),
          s"ch=$ch pad=($b,$a) t=$t x=$x")
      }
    }
    // pad(0,0) is the identity
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 4))
    assert(ds.pad("t", 0, 0).collectConsolidated()._2.vars("v").arr
      .sameAs(vals))
  }

  test("pad modes edge and reflect mirror numpy, any chunking") {
    val vals = NdArray.fromDoubles(DType.F64, Array(10, 2),
      Array.tabulate(20)(_.toDouble))
    def src(t: Int, x: Int) = vals.getDouble(t * 2 + x)
    for (ch <- Seq(4, 5, 10); (b, a) <- Seq((3, 2), (2, 0), (0, 3))) {
      def build = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
      // numpy edge: [a b c] (2,_) -> [a a a b c]
      val eg = build.pad("t", b, a, mode = "edge")
        .collectConsolidated()._2.vars("v").arr
      for (t <- 0 until (10 + b + a); x <- 0 until 2) {
        val want = src(math.min(math.max(t - b, 0), 9), x)
        assert(eg.getDouble(t * 2 + x) == want, s"edge ch=$ch ($b,$a) t=$t")
      }
      // numpy reflect: [a b c d] (2,2) -> [c b | a b c d | c b]; the
      // widths must fit the edge chunks (ch=4 leaves a 2-wide tail
      // chunk, correctly rejected below)
      if (ch >= 5) {
        val rf = build.pad("t", b, a, mode = "reflect")
          .collectConsolidated()._2.vars("v").arr
        for (t <- 0 until (10 + b + a); x <- 0 until 2) {
          val rel = t - b
          val want = src(
            if (rel < 0) -rel else if (rel > 9) 18 - rel else rel, x)
          assert(rf.getDouble(t * 2 + x) == want, s"reflect ch=$ch ($b,$a) t=$t")
        }
      }
    }
    // reflect wider than the edge chunk fails LOUDLY at plan time
    val e = intercept[IllegalArgumentException] {
      XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 3))
        .pad("t", 3, 0, mode = "reflect")
    }
    assert(e.getMessage.contains("reflect") && e.getMessage.contains("t"))
  }

  test("polyfit: deg-1 slope matches trend; exact polynomials recover") {
    // v(t, x) = (x+1)·t² − 3t + 7: quadratic fit must recover the
    // coefficients essentially exactly (integer-exact sums; the only
    // float error is the final Cramer arithmetic)
    val vals = NdArray.fromDoubles(DType.F64, Array(12, 2),
      Array.tabulate(24) { i =>
        val t = i / 2; val x = i % 2
        ((x + 1) * t * t - 3 * t + 7).toDouble
      })
    for (ch <- Seq(3, 5, 12)) {
      val ds = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
      val fit = ds.polyfit("t", 2).collectConsolidated()._2.vars("v").arr
      assert(fit.shape.toSeq == Seq(3, 2))
      for (x <- 0 until 2) {
        assert(math.abs(fit.getDouble(x) - (x + 1)) < 1e-9, s"c2 ch=$ch x=$x")
        assert(math.abs(fit.getDouble(2 + x) - -3.0) < 1e-9, s"c1 ch=$ch")
        assert(math.abs(fit.getDouble(4 + x) - 7.0) < 1e-8, s"c0 ch=$ch")
      }
      // deg-1 leading coefficient == trend's slope (identical closed
      // form on identical partials → bit-equal)
      val lin = ds.polyfit("t", 1).collectConsolidated()._2.vars("v").arr
      val slope = ds.trend("t").collectConsolidated()._2.vars("v").arr
      for (x <- 0 until 2)
        assert(lin.getDouble(x) == slope.getDouble(x), s"ch=$ch x=$x")
      // deg 3 exercises the Gaussian path; the cubic term is 0 here
      val cube = ds.polyfit("t", 3).collectConsolidated()._2.vars("v").arr
      for (x <- 0 until 2)
        assert(math.abs(cube.getDouble(x)) < 1e-6, s"c3 ch=$ch x=$x")
    }
    // skipna drops NaN points: poke holes, fit still recovers exactly
    val holed = vals.mapF64(identity)
    holed.setDouble(6L, Double.NaN)  // t=3, x=0
    holed.setDouble(15L, Double.NaN) // t=7, x=1
    val hfit = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), holed)), chunks = Map("t" -> 4))
      .polyfit("t", 2).collectConsolidated()._2.vars("v").arr
    for (x <- 0 until 2)
      assert(math.abs(hfit.getDouble(x) - (x + 1)) < 1e-9, s"skipna x=$x")
    // too few points per cell → NaN coefficients
    val tiny = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"),
        NdArray.fromDoubles(DType.F64, Array(2, 2), Array(1.0, 2, 3, 4)))),
      chunks = Map("t" -> 2))
      .polyfit("t", 2).collectConsolidated()._2.vars("v").arr
    assert((0 until 6).forall(i => tiny.getDouble(i.toLong).isNaN))
  }

  test("detrend removes exact polynomials; NaN passes through") {
    // v = 2t² − 5t + 1 plus a per-x residual pattern r(t,x) summing to
    // a polynomial-orthogonal-ish signal; removing the exact quadratic
    // itself must leave ~0 everywhere
    val quad = NdArray.fromDoubles(DType.F64, Array(12, 2),
      Array.tabulate(24) { i =>
        val t = i / 2
        (2 * t * t - 5 * t + 1).toDouble
      })
    for (ch <- Seq(3, 4, 12)) {
      val got = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), quad)), chunks = Map("t" -> ch))
        .detrend("t", 2).collectConsolidated()._2.vars("v").arr
      for (i <- 0 until 24)
        assert(math.abs(got.getDouble(i.toLong)) < 1e-7, s"ch=$ch i=$i")
    }
    // NaN stays NaN; the fit uses the remaining points (skipna)
    val holed = quad.mapF64(identity)
    holed.setDouble(8L, Double.NaN)
    val hg = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), holed)), chunks = Map("t" -> 4))
      .detrend("t", 2).collectConsolidated()._2.vars("v").arr
    assert(hg.getDouble(8L).isNaN)
    assert(math.abs(hg.getDouble(10L)) < 1e-7)
  }

  test("negative shift pulls values forward; tail fills NaN") {
    val vals = NdArray.fromDoubles(DType.F64, Array(10, 2),
      Array.tabulate(20)(_.toDouble))
    for (ch <- Seq(3, 4, 10); k <- Seq(-1, -3)) {
      val got = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
        .shift("t", k).collectConsolidated()._2.vars("v").arr
      for (t <- 0 until 10; x <- 0 until 2) {
        val src = t - k // k negative: source is ahead
        val g = got.getDouble(t * 2 + x)
        if (src < 10) assert(g == vals.getDouble(src * 2 + x),
          s"ch=$ch k=$k t=$t x=$x")
        else assert(g.isNaN, s"ch=$ch k=$k t=$t x=$x tail must be NaN")
      }
    }
  }

  test("roll: circular shift wraps exactly, any chunking and any k") {
    val vals = NdArray.fromDoubles(DType.F64, Array(10, 3),
      Array.tabulate(30)(_.toDouble))
    def build(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
    for (ch <- Seq(3, 4, 10); k <- Seq(1L, 3L, 7L, 10L, -2L, 23L)) {
      val got = build(ch).roll("t", k).collectConsolidated()._2.vars("v").arr
      val kk = (((k % 10) + 10) % 10).toInt
      for (t <- 0 until 10; x <- 0 until 3) {
        val src = ((t - kk) + 10) % 10
        assert(got.getDouble(t * 3 + x) == vals.getDouble(src * 3 + x),
          s"ch=$ch k=$k t=$t x=$x")
      }
    }
    // k multiple of the extent is the identity
    assert(build(4).roll("t", 20).collectConsolidated()._2.vars("v").arr
      .sameAs(vals))
  }

  test("rolling count skips NaN; other rolling ops poison") {
    val vals = NdArray.fromDoubles(DType.F64, Array(6),
      Array(1.0, Double.NaN, 3.0, Double.NaN, Double.NaN, 6.0))
    val counts = vals.rollingReduceAlong(0, 3, 0, "count").toDoubles.toSeq
    assert(counts == Seq(1.0, 1.0, 2.0, 1.0, 1.0, 1.0))
    val sums = vals.rollingReduceAlong(0, 3, 0, "sum").toDoubles
    assert(sums(0) == 1.0 && sums(1).isNaN && sums(4).isNaN)
  }

  test("rollingQuantile: numpy-linear order statistic, NaN poison, bad q") {
    // window [2,8,4]: sorted (2,4,8); q=0.25 → pos 0.5 → 3; q=0 → min;
    // q=1 → max; q=0.5 matches median
    val vals = NdArray.fromDoubles(DType.F64, Array(5),
      Array(2.0, 8.0, 4.0, Double.NaN, 16.0))
    def roll(q: Double) =
      vals.rollingReduceAlong(0, 3, 0, s"quantile:$q").toDoubles
    assert(roll(0.25).toSeq.take(3) == Seq(2.0, 3.5, 3.0))
    assert(roll(0.0)(2) == 2.0 && roll(1.0)(2) == 8.0)
    assert(roll(0.5)(2) ==
      vals.rollingReduceAlong(0, 3, 0, "median").toDoubles(2))
    // NaN poisons windows containing position 3
    assert(roll(0.25)(3).isNaN && roll(0.25)(4).isNaN)
    // end-to-end through the dataset API, trailing + centered agree
    // with the single-chunk kernel
    val grid = NdArray.fromDoubles(DType.F64, Array(12),
      Array.tabulate(12)(i => ((i * 29) % 13).toDouble))
    val expectT = grid.rollingReduceAlong(0, 4, 0, "quantile:0.75").toDoubles
    val gotT = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t"), grid)), chunks = Map("t" -> 6))
      .rollingQuantile("t", 4, 0.75)
      .collectConsolidated()._2.vars("v").arr.toDoubles
    assert(gotT.toSeq == expectT.toSeq)
    val gotC = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t"), grid)), chunks = Map("t" -> 6))
      .rollingQuantile("t", 3, 0.75, center = true)
      .collectConsolidated()._2.vars("v").arr.toDoubles
    val expectC = grid.rollingCenteredAlong(0, 3, 0, 0, "quantile:0.75")
      .toDoubles
    assert(gotC.toSeq == expectC.toSeq)
    val e = intercept[IllegalArgumentException](
      XbeamDataset.fromLocal(spark, Map("v" -> (Seq("t"), grid)),
        chunks = Map("t" -> 6)).rollingQuantile("t", 3, 1.5))
    assert(e.getMessage.contains("quantile"))
  }

  test("cumprod matches the kernel across chunkings and scan paths") {
    // factors in {1, 2}: running products stay exact powers of two
    val grid = NdArray.fromDoubles(DType.F64, Array(32, 6),
      Array.tabulate(192)(i => 1.0 + (i * 37 % 11) % 2))
    val direct = grid.cumprodAlong(0, None)
    def build(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), grid)), chunks = Map("t" -> ch))
    def check(expectExchanges: Int): Unit =
      for (ch <- Seq(5, 8, 16)) { // 5: non-dividing chunk edge
        val out = build(ch).cumprod("t")
        assert(exchanges(out) == expectExchanges, s"chunks=$ch")
        assert(out.collectConsolidated()._2.vars("v").arr.sameAs(direct),
          s"chunks=$ch")
      }
    check(1) // fused lane scan
    withDriverSeeds(check(0))
    // NaN poisons the running product
    val nan = NdArray.fromDoubles(DType.F64, Array(3),
      Array(2.0, Double.NaN, 3.0))
    val y = nan.cumprodAlong(0, None).toDoubles
    assert(y(0) == 2.0 && y(1).isNaN && y(2).isNaN)
  }

  test("where/clip/fillna elementwise sugar composes as documented") {
    val vals = NdArray.fromDoubles(DType.F64, Array(6),
      Array(0.0, 1.0, 3.0, 151.0, -7.0, 99.0))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), vals)), chunks = Map("t" -> 4))
    val out = ds.where(v => v % 3.0 != 0.0).fillna(-5.0).clip(0.0, 100.0)
      .collectConsolidated()._2.vars("v").arr.toDoubles.toSeq
    // 0, 3, 99 are multiples of 3 → NaN → -5 → clip 0; 151 clips to
    // 100; -7 clips to 0; 1 passes
    assert(out == Seq(0.0, 1.0, 0.0, 100.0, 0.0, 0.0))
    // clip alone keeps NaN
    val masked = ds.where(_ => false) // all NaN
    val clipped = masked.clip(0.0, 1.0).collectConsolidated()._2
      .vars("v").arr.toDoubles
    assert(clipped.forall(_.isNaN))
  }

  test("cumminmax fused scan equals separate cummin/cummax on both paths") {
    def check(ds: XbeamDataset, expectExchanges: Int = 1): Unit = {
      assert(exchanges(ds.cumminmax("time")) == expectExchanges)
      val fused = ds.cumminmax("time").collectConsolidated()._2
      val cmin = ds.cummin("time").collectConsolidated()._2
      val cmax = ds.cummax("time").collectConsolidated()._2
      assert(fused.vars("temperature_cmin").arr
        .sameAs(cmin.vars("temperature").arr))
      assert(fused.vars("temperature_cmax").arr
        .sameAs(cmax.vars("temperature").arr))
      assert(fused.vars("precip_cmin").arr.sameAs(cmin.vars("precip").arr))
      assert(fused.vars("precip_cmax").arr.sameAs(cmax.vars("precip").arr))
    }
    check(era5ds(Map("time" -> 4))) // short lanes: fused single shuffle
    withDriverSeeds(check(era5ds(Map("time" -> 4)), expectExchanges = 0))
    // NaNs poison the running extremes identically on both shapes
    val masked = era5ds(Map("time" -> 4)).mapBlocks(c => c.mapVars { (_, va) =>
      VarArray(va.dims, va.arr.mapF64(v => if (v % 7 == 0) Double.NaN else v))
    })
    check(masked)
  }

  test("argmin/argmax cross chunks, break ties to the lowest index") {
    val chunked = era5ds(Map("time" -> 4))
    val amin = chunked.argmin("time").collectConsolidated()._2
      .vars("temperature").arr
    val amax = chunked.argmax("time").collectConsolidated()._2
      .vars("temperature").arr
    val orig = Fixtures.era5()("temperature")._2
    val lanes = orig.shape(1) * orig.shape(2)
    (0 until lanes).foreach { l =>
      var (bi, bv, wi, wv) = (0L, Double.MaxValue, 0L, Double.MinValue)
      (0 until orig.shape(0)).foreach { t =>
        val v = orig.getDouble(t.toLong * lanes + l)
        if (v < bv) { bv = v; bi = t }
        if (v > wv) { wv = v; wi = t }
      }
      assert(amin.getLong(l) == bi && amax.getLong(l) == wi)
    }
    assert(amin.dtype == DType.I64)
    // ties → lowest index, even when the later chunk holds the tie;
    // NaN cells: skipna ignores (all-NaN → -1), non-skipna poisons
    val vals = NdArray.fromDoubles(DType.F64, Array(4, 2),
      Array(3.0, Double.NaN, 1.0, Double.NaN, 1.0, Double.NaN, 2.0, 5.0))
    def ds(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
    val a = ds(2).argmin("t").collectConsolidated()._2.vars("v").arr
    assert(a.getLong(0) == 1) // 1.0 at t=1 and t=2: first wins across chunks
    assert(a.getLong(1) == 3) // NaNs skipped, only t=3 has data
    val strict = ds(2).argmin("t", skipna = false)
      .collectConsolidated()._2.vars("v").arr
    assert(strict.getLong(0) == 1 && strict.getLong(1) == -1)
  }

  test("idxmin/idxmax map arg indices through the coord; empty cells NaN") {
    // v columns: [5,1,3] (min at t=1, max at t=0), [NaN,NaN,NaN]
    val vals = NdArray.fromDoubles(DType.F64, Array(3, 2),
      Array(5.0, Double.NaN, 1.0, Double.NaN, 3.0, Double.NaN))
    val c = NdArray.fromDoubles(DType.F64, Array(3), Array(10.0, 20.0, 30.0))
    def build = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> c),
      chunks = Map("t" -> 2))
    val imin = build.idxmin("t").collectConsolidated()._2.vars("v").arr
    assert(imin.getDouble(0) == 20.0 && imin.getDouble(1).isNaN)
    val imax = build.idxmax("t").collectConsolidated()._2.vars("v").arr
    assert(imax.getDouble(0) == 10.0 && imax.getDouble(1).isNaN)
    // a missing coordinate is rejected
    assertThrows[IllegalArgumentException] {
      XbeamDataset.fromLocal(spark, Map("v" -> (Seq("t", "x"), vals)),
        chunks = Map("t" -> 2)).idxmin("t")
    }
    // datetime coord: output keeps datetime64; empty cells are NaT
    // (Long.MinValue — integer arrays can't hold NaN)
    val base = java.time.Instant.parse("2020-06-01T00:00:00Z")
      .getEpochSecond * 1000000000L
    val tc = NdArray.fromLongs(DType.TimeNs, Array(3),
      Array(base, base + 7L, base + 11L))
    val dtds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> tc),
      chunks = Map("t" -> 2))
    val tmin = dtds.idxmin("t")
    assert(tmin.template.vars("v").dtype == DType.TimeNs)
    val tminArr = tmin.collectConsolidated()._2.vars("v").arr
    assert(tminArr.getLong(0) == base + 7L) // min at t=1
    assert(tminArr.getLong(1) == Long.MinValue) // all-NaN lane -> NaT
  }

  test("concat shifts keys by the first extent (no shuffle arithmetic)") {
    val dir = Files.createTempDirectory("concat").toString
    era5ds(Map("time" -> 4)).toZarr(s"$dir/store")
    val xds = XbeamDataset.fromZarr(spark, s"$dir/store")
    val whole = xds.collectConsolidated()._2.vars("temperature").arr
    val back = xds.head("time", 8).concat(xds.tail("time", 4), "time")
    assert(back.template.dimSizes("time") == 12)
    assert(back.collectConsolidated()._2.vars("temperature").arr.sameAs(whole))
    // a split point off the chunk grid is rejected (shifted chunks
    // would straddle the stored grid — same rule as zarr append)
    assertThrows[IllegalArgumentException] {
      xds.head("time", 6).concat(xds.tail("time", 6), "time")
    }
    // dim coordinates concatenate when both sides carry one
    val t1 = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), arange(DType.F64, 4))),
      coords = Map("t" -> arange(DType.F64, 4)), chunks = Map("t" -> 4))
    val t2 = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), arange(DType.F64, 3))),
      coords = Map("t" -> arange(DType.F64, 3)), chunks = Map("t" -> 4))
    val cat = t1.concat(t2, "t")
    assert(cat.template.coords("t").toDoubles.toSeq ==
      Seq(0.0, 1.0, 2.0, 3.0, 0.0, 1.0, 2.0))
  }

  test("anomaly subtracts the broadcast mean; zipReduced validates grids") {
    val xds = era5ds(Map("time" -> 4))
    val anom = xds.anomaly(Set("time"))
      .collectConsolidated()._2.vars("temperature").arr
    val orig = Fixtures.era5()("temperature")._2
    val mean = {
      val (s, c) = orig.sumCount(Array(0), skipna = true)
      s.zipF64(c)(_ / _)
    }
    val direct = orig.zipBroadcastF64(mean, Array(1, 2))(_ - _)
    // chunked partial sums reassociate float additions → tolerance here;
    // integer-valued data (the x30 gate) is exact in any merge order
    assert(anom.allClose(direct, 1e-12))
    val ints = NdArray.fromDoubles(DType.F64, Array(6, 2),
      Array(1, 9, 3, 4, 5, 6, 7, 8, 2, 10, 11, 12).map(_.toDouble))
    def ids(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), ints)), chunks = Map("t" -> ch))
    assert(ids(2).anomaly(Set("t")).collectConsolidated()._2.vars("v").arr
      .sameAs(ids(6).anomaly(Set("t")).collectConsolidated()._2.vars("v").arr))
    // a reduced side on a different chunk grid is rejected
    val mis = xds.mean(Set("time")).rechunk(Map("latitude" -> 2))
    assertThrows[IllegalArgumentException] {
      xds.zipReduced(mis)((c, _) => c, xds.template)
    }
  }

  test("zipReduced size guard: oversized reduced sides join co-partitioned") {
    // force the driver-hostile path: a 0-byte broadcast budget sends
    // EVERY reduced side through the co-partitioned join fallback.
    // BIT-exact path equivalence is asserted on integer-valued data
    // (exact partial sums in ANY merge order); float data gets a
    // tolerance because the (sum, count) partials' merge order is not
    // pinned across runs — multi-JVM scheduling surfaces what local[4]
    // hid (same reassociation note as the anomaly test above).
    val ints = NdArray.fromDoubles(DType.F64, Array(6, 2),
      Array(1, 9, 3, 4, 5, 6, 7, 8, 2, 10, 11, 12).map(_.toDouble))
    def ids() = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), ints)), chunks = Map("t" -> 2))
    val intBroadcast = ids().anomaly(Set("t"))
      .collectConsolidated()._2.vars("v").arr
    val broadcast = era5ds(Map("time" -> 4)).anomaly(Set("time"))
      .collectConsolidated()._2
    spark.conf.set("spark.graft.zipReduced.broadcastBytes", "0")
    try {
      assert(ids().anomaly(Set("t")).collectConsolidated()._2.vars("v").arr
        .sameAs(intBroadcast))
      val joined = era5ds(Map("time" -> 4)).anomaly(Set("time"))
        .collectConsolidated()._2
      // Single-JVM merge order is stable, so demand bit-exactness there
      // (the regression signal this test originally carried); only
      // multi-JVM runs — where partial-merge order is genuinely
      // unpinned — get the float tolerance.
      if (!graft.TestSpark.isMultiJvm) {
        assert(joined.vars("temperature").arr.sameAs(
          broadcast.vars("temperature").arr))
        assert(joined.vars("precip").arr.sameAs(
          broadcast.vars("precip").arr))
      } else {
        assert(joined.vars("temperature").arr.allClose(
          broadcast.vars("temperature").arr, 1e-12))
        assert(joined.vars("precip").arr.allClose(
          broadcast.vars("precip").arr, 1e-12))
      }
      // zscore composes two reduced zips; both must survive the fallback.
      // Tolerance 1e-8: the population variance's cancelling form
      // (q/n − μ²) subtracts ~1e5-magnitude operands on ~285-valued
      // data, amplifying partial-merge-order ulps to ~1e-11 absolute
      // (measured 2.1e-11 across multi-JVM merge orders)
      val z = era5ds(Map("time" -> 4)).zscore(Set("time"))
        .collectConsolidated()._2.vars("temperature").arr
      spark.conf.unset("spark.graft.zipReduced.broadcastBytes")
      val zb = era5ds(Map("time" -> 4)).zscore(Set("time"))
        .collectConsolidated()._2.vars("temperature").arr
      if (!graft.TestSpark.isMultiJvm) assert(z.sameAs(zb))
      else assert(z.allClose(zb, 1e-8))
    } finally spark.conf.unset("spark.graft.zipReduced.broadcastBytes")
  }

  test("coarsen block-means chunk-locally; factors must divide") {
    val coarse = era5ds(Map("time" -> 4)).coarsen(Map("time" -> 2))
    assert(coarse.template.dimSizes("time") == 6)
    assert(coarse.chunkSizes("time") == 2)
    val got = coarse.collectConsolidated()._2.vars("temperature").arr
    val direct = Fixtures.era5()("temperature")._2
      .coarsen(Array(2, 1, 1), "mean", skipna = true)
    assert(got.sameAs(direct))
    // sum variant over two dims at once
    val s2 = era5ds(Map("time" -> 4)).coarsen(Map("time" -> 4, "longitude" -> 3), op = "sum")
    assert(s2.template.dimSizes == Map("time" -> 3L, "latitude" -> 5L, "longitude" -> 2L))
    assert(s2.collectConsolidated()._2.vars("precip").arr.sameAs(
      Fixtures.era5()("precip")._2.coarsen(Array(4, 1, 3), "sum", skipna = true)))
    // factor not dividing the chunk is rejected (block would straddle)
    assertThrows[IllegalArgumentException] {
      era5ds(Map("time" -> 4)).coarsen(Map("time" -> 3))
    }
  }

  test("diff crosses chunk boundaries; first positions are NaN") {
    val chunked = era5ds(Map("time" -> 4)).diff("time")
      .collectConsolidated()._2.vars("temperature").arr
    val direct = Fixtures.era5()("temperature")._2.diffAlong(0, 1, 0)
    assert(chunked.sameAs(direct))
    val lanes = 5 * 6
    (0 until lanes).foreach { l => assert(chunked.getDouble(l).isNaN) }
    // t=4 (chunk boundary) must difference against t=3
    val orig = Fixtures.era5()("temperature")._2
    assert(chunked.getDouble(4L * lanes) ==
      orig.getDouble(4L * lanes) - orig.getDouble(3L * lanes))
  }

  test("ffill carries the last value across chunk boundaries") {
    // lane values [NaN, 2, NaN, NaN, 5, NaN] chunked t=2: the fill at
    // t=3 needs chunk 0's sliver, t=5 needs chunk 2's own value
    val vals = NdArray.fromDoubles(DType.F64, Array(6, 1), Array(
      Double.NaN, 2.0, Double.NaN, Double.NaN, 5.0, Double.NaN))
    def ds(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
    val filled = ds(2).ffill("t").collectConsolidated()._2.vars("v").arr
    assert(filled.getDouble(0).isNaN) // nothing precedes t=0
    assert(filled.toDoubles.drop(1).toSeq == Seq(2.0, 2.0, 2.0, 5.0, 5.0))
    assert(filled.sameAs(ds(6).ffill("t").collectConsolidated()._2.vars("v").arr))
    // era5: chunked == single-chunk after masking a value band to NaN
    val masked = era5ds(Map("time" -> 4)).where(v => v < 284 || v > 286)
    val a = masked.ffill("time").collectConsolidated()._2.vars("temperature").arr
    val b = era5ds(Map("time" -> 12)).where(v => v < 284 || v > 286)
      .ffill("time").collectConsolidated()._2.vars("temperature").arr
    assert(a.sameAs(b))
  }

  test("bfill mirrors ffill: nearest SUCCEEDING value crosses chunks") {
    val vals = NdArray.fromDoubles(DType.F64, Array(6, 1), Array(
      Double.NaN, 2.0, Double.NaN, Double.NaN, 5.0, Double.NaN))
    def ds(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
    val filled = ds(2).bfill("t").collectConsolidated()._2.vars("v").arr
    assert(filled.toDoubles.take(5).toSeq == Seq(2.0, 2.0, 5.0, 5.0, 5.0))
    assert(filled.getDouble(5).isNaN) // nothing follows t=5
    assert(filled.sameAs(ds(6).bfill("t").collectConsolidated()._2.vars("v").arr))
  }

  test("cummax/cummin cross chunk boundaries bit-exactly") {
    // comparisons only — no float reassociation, so chunked == single
    val a = era5ds(Map("time" -> 4)).cummax("time")
      .collectConsolidated()._2.vars("temperature").arr
    val b = era5ds(Map("time" -> 12)).cummax("time")
      .collectConsolidated()._2.vars("temperature").arr
    assert(a.sameAs(b))
    val orig = Fixtures.era5()("temperature")._2
    assert(a.sameAs(orig.cumExtremeAlong(0, isMin = false, None)))
    val c = era5ds(Map("time" -> 4)).cummin("time")
      .collectConsolidated()._2.vars("temperature").arr
    assert(c.sameAs(orig.cumExtremeAlong(0, isMin = true, None)))
    // hand-check: [3,1,2] running max = [3,3,3], running min = [3,1,1]
    val vals = NdArray.fromDoubles(DType.F64, Array(3, 1), Array(3.0, 1.0, 2.0))
    def ds0 = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 2))
    assert(ds0.cummax("t").collectConsolidated()._2.vars("v").arr
      .toDoubles.toSeq == Seq(3.0, 3.0, 3.0))
    assert(ds0.cummin("t").collectConsolidated()._2.vars("v").arr
      .toDoubles.toSeq == Seq(3.0, 1.0, 1.0))
  }

  test("slice pushes down mid-dim ranges; sel resolves coordinate ranges") {
    val coord = NdArray.fromDoubles(DType.F64, Array(6),
      Array(10, 20, 30, 40, 50, 60).map(_.toDouble))
    val vals = arange(DType.F64, 6, 2)
    def ds0 = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
      chunks = Map("t" -> 4))
    val sliced = ds0.slice("t", 2, 3)
    assert(sliced.isScan && sliced.template.dimSizes("t") == 3)
    assert(sliced.template.coords("t").toDoubles.toSeq == Seq(30.0, 40.0, 50.0))
    assert(sliced.collectConsolidated()._2.vars("v").arr.sameAs(
      vals.slice(Array(2, 0), Array(3, 2))))
    // sel is slice resolved from the coord (inclusive bounds)
    val selected = ds0.sel("t", 20.0, 50.0)
    assert(selected.template.dimSizes("t") == 4)
    assert(selected.collectConsolidated()._2.vars("v").arr.sameAs(
      vals.slice(Array(1, 0), Array(4, 2))))
    // no coord / empty range / unsorted coord are rejected
    assertThrows[IllegalArgumentException] { ds0.sel("x", 0.0, 1.0) }
    assertThrows[IllegalArgumentException] { ds0.sel("t", 61.0, 99.0) }
    val unsorted = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)),
      coords = Map("t" -> NdArray.fromDoubles(DType.F64, Array(6),
        Array(10, 30, 20, 40, 50, 60).map(_.toDouble))),
      chunks = Map("t" -> 4))
    assertThrows[IllegalArgumentException] { unsorted.sel("t", 10.0, 40.0) }
  }

  test("weightedMean applies per-dim weights; NaNs mask their weight") {
    // uniform weights == plain mean
    val xds = era5ds(Map("time" -> 4))
    val ones = NdArray.fill(DType.F64, Array(12), 1.0)
    val wm = xds.weightedMean(Set("time"), Map("time" -> ones))
      .collectConsolidated()._2.vars("temperature").arr
    val pm = xds.mean(Set("time"))
      .collectConsolidated()._2.vars("temperature").arr
    assert(wm.allClose(pm, 1e-12))
    // hand-checked: values [1,2,4] weights [1,2,3] → (1+4+12)/6
    val vals = NdArray.fromDoubles(DType.F64, Array(3, 1),
      Array(1.0, 2.0, 4.0))
    def one(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
      .weightedMean(Set("t"), Map("t" -> NdArray.fromDoubles(
        DType.F64, Array(3), Array(1.0, 2.0, 3.0))))
      .collectConsolidated()._2.vars("v").arr
    assert(one(3).getDouble(0) == 17.0 / 6.0)
    assert(one(2).getDouble(0) == 17.0 / 6.0) // chunked: same partial sums
    // a NaN masks its weight out of the total: [1,NaN,4]·[1,2,3] → 13/4
    val nan = NdArray.fromDoubles(DType.F64, Array(3, 1),
      Array(1.0, Double.NaN, 4.0))
    val nm = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), nan)), chunks = Map("t" -> 2))
      .weightedMean(Set("t"), Map("t" -> NdArray.fromDoubles(
        DType.F64, Array(3), Array(1.0, 2.0, 3.0))))
      .collectConsolidated()._2.vars("v").arr
    assert(nm.getDouble(0) == 13.0 / 4.0)
    // weight array length must match the dim
    assertThrows[IllegalArgumentException] {
      xds.weightedMean(Set("time"), Map("time" -> ones.slice(Array(0), Array(5))))
    }
  }

  test("fillna/clip/where elementwise conveniences") {
    val vals = NdArray.fromDoubles(DType.F64, Array(4),
      Array(1.0, Double.NaN, 9.0, -3.0))
    def ds0 = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), vals)), chunks = Map("t" -> 2))
    assert(ds0.fillna(0.0).collectConsolidated()._2.vars("v").arr
      .toDoubles.toSeq == Seq(1.0, 0.0, 9.0, -3.0))
    val clipped = ds0.clip(0.0, 5.0).collectConsolidated()._2.vars("v").arr
    assert(clipped.getDouble(0) == 1.0 && clipped.getDouble(2) == 5.0 &&
      clipped.getDouble(3) == 0.0 && clipped.getDouble(1).isNaN)
    val w = ds0.where(_ > 0, -1.0).collectConsolidated()._2.vars("v").arr
    assert(w.toDoubles.toSeq == Seq(1.0, -1.0, 9.0, -1.0))
  }

  test("meanMultiStage matches single-shuffle mean (combiners.py:295-394)") {
    val xds = era5ds(Map("time" -> 1))
    val staged = xds.meanMultiStage(Set("time"),
      binsPerStage = Some(Vector(3, 2, 2))) // 3 stages covering 12 chunks
    val (_, c) = staged.collectConsolidated()
    val (_, ref) = era5ds().mean(Set("time")).collectConsolidated()
    assert(c.vars("temperature").arr.allClose(ref.vars("temperature").arr, 1e-12))
    assert(c.vars("precip").arr.allClose(ref.vars("precip").arr, 1e-12))
    // planner-chosen bins (default) agree too
    val auto = xds.meanMultiStage(Set("time"))
    val (_, a) = auto.collectConsolidated()
    assert(a.vars("temperature").arr.allClose(ref.vars("temperature").arr, 1e-12))
  }

  test("mapBlocks with declared template skips inference (dataset.py:880-899)") {
    import graft.core.{Template, VarSpec}
    val xds = era5ds()
    val declared = Template(xds.template.dims,
      Map("t2" -> VarSpec(Seq("time", "latitude", "longitude"), DType.F64)),
      Map.empty, Map.empty)
    val out = xds.mapBlocks(c => ArrayChunk(Map("t2" ->
      VarArray(Seq("time", "latitude", "longitude"),
        c.vars("temperature").arr.mapF64(_ * 2)))),
      declared, xds.chunkSizes)
    val (_, c) = out.collectConsolidated()
    assert(c.vars("t2").arr.sameAs(
      Fixtures.era5()("temperature")._2.mapF64(_ * 2)))
  }

  test("map_blocks_non_unique: dropping a multi-chunk dim fails " +
       "(dataset_test.py:1087-1096)") {
    // foo over x=8 chunked {x:4}: mean('x') drops x, whose two source
    // chunks would collide onto one output key
    val xds = XbeamDataset.fromLocal(spark,
      Map("foo" -> (Seq("x"),
        NdArray.fromLongs(DType.I64, Array(8), Array.tabulate(8)(_.toLong)))),
      chunks = Map("x" -> 4))
    val e = intercept[IllegalArgumentException] {
      xds.mapBlocks { c =>
        ArrayChunk(c.vars.map { case (n, va) =>
          n -> VarArray(Seq.empty,
            NdArray.fill(DType.F64, Array.empty[Int],
              va.arr.toDoubles.sum / va.arr.size))
        })
      }
    }
    assert(e.getMessage.contains("dimension 'x' has multiple chunks on " +
      "the source dataset, and therefore must be included in the result " +
      "of map_blocks, but is not in the new template"))
  }

  test("map_blocks_inconsistent_chunks_error: explicit chunks must keep " +
       "the chunk count (dataset_test.py:1098-1106)") {
    val xds = XbeamDataset.fromLocal(spark,
      Map("foo" -> (Seq("x"),
        NdArray.fromLongs(DType.I64, Array(8), Array.tabulate(8)(_.toLong)))),
      chunks = Map("x" -> 4))
    val e = intercept[IllegalArgumentException] {
      xds.mapBlocks(identity, xds.template, Map("x" -> 1))
    }
    assert(e.getMessage.contains(
      "dimension 'x' has 2 chunks on the source dataset and 8 in the " +
        "result of map_blocks"))
    // a dropped multi-chunk dim fails on the explicit path too
    val e2 = intercept[IllegalArgumentException] {
      xds.mapBlocks(identity,
        graft.core.Template(Seq.empty,
          Map("foo" -> graft.core.VarSpec(Seq.empty, DType.F64)),
          Map.empty, Map.empty), Map.empty)
    }
    assert(e2.getMessage.contains("must be included in the result"))
    // chunk-count-preserving explicit templates still pass
    assert(xds.mapBlocks(identity, xds.template, Map("x" -> 4))
      .collectConsolidated()._2.vars("foo").arr.toDoubles.toSeq ==
      (0 until 8).map(_.toDouble))
    // dims shared with the source inherit its chunking: an EMPTY (or
    // partial) newChunks map must not default a multi-chunk dim to one
    // full-dim chunk and then fail its own count check
    assert(xds.mapBlocks(identity, xds.template, Map.empty)
      .chunkSizes("x") == 4)
  }

  test("map_blocks_new_split_vars_fails: split-vars variable set is " +
       "pinned (dataset_test.py:1074-1085)") {
    val xds = XbeamDataset.fromLocal(spark,
      Map("foo" -> (Seq("x"),
        NdArray.fromLongs(DType.I64, Array(8), Array.tabulate(8)(_.toLong)))),
      chunks = Map("x" -> 4), splitVars = true)
    val e = intercept[IllegalArgumentException] {
      xds.mapBlocks(c => ArrayChunk(c.vars.map { case (_, va) => "bar" -> va }))
    }
    assert(e.getMessage.contains("cannot use map_blocks on a dataset " +
      "with split_vars=true if the transformation returns a different " +
      "set of variables"))
    assert(e.getMessage.contains("foo") && e.getMessage.contains("bar"))
  }

  test("rechunkSpecs mixes exact, full and byte-target dims") {
    import graft.core.ChunkSpec
    val xds = era5ds(Map("time" -> 1))
    val re = xds.rechunkSpecs(
      Map("time" -> ChunkSpec.Full),
      default = Some(ChunkSpec.parse("960B"))) // 60 elems over lat x lon
    assert(re.chunkSizes("time") == 12)
    assert(re.chunkSizes("latitude") == 5 && re.chunkSizes("longitude") == 6)
    val (_, c) = re.collectConsolidated()
    assert(c.vars("temperature").arr.sameAs(Fixtures.era5()("temperature")._2))
  }

  test("byte-target rechunk resolves against combined itemsize") {
    val xds = era5ds(Map("time" -> 1))
    // era5 fixture: temperature+precip f64 → 16B per grid element; dims
    // (time 12, lat 5, lon 6). "1920B" → 120 elements per chunk: time
    // snaps to multiples of 1 (prev chunk), lat/lon full (prev = full).
    val re = xds.rechunk("1920B")
    assert(re.chunkSizes("latitude") == 5 && re.chunkSizes("longitude") == 6)
    assert(re.chunkSizes("time") == 4) // 120 / 30 grid elems per slice
    val (_, c) = re.collectConsolidated()
    assert(c.vars("temperature").arr.sameAs(Fixtures.era5()("temperature")._2))
  }

  test("rechunk fast path: scan re-read for multiple chunks (no shuffle)") {
    val xds = era5ds(Map("time" -> 2))
    val re = xds.rechunk(Map("time" -> 4))
    assert(re.isScan, "multiple-of rechunk on a scan must stay a scan")
    assert(re.chunkDataset.collect().length == 3)
    val (_, c) = re.collectConsolidated()
    assert(c.vars("temperature").arr.sameAs(Fixtures.era5()("temperature")._2))
  }

  test("rechunk shuffle path preserves data (non-multiple target)") {
    val xds = era5ds(Map("time" -> 4)).mapBlocks(identity) // break the scan
    val re = xds.rechunk(Map("time" -> 5))
    assert(!re.isScan)
    assert(re.chunkSizes("time") == 5)
    val (_, c) = re.collectConsolidated()
    assert(c.vars("temperature").arr.sameAs(Fixtures.era5()("temperature")._2))
  }

  test("irregular variables: different dim subsets round-trip through zarr " +
       "(integration_test.py:142-173)") {
    val spark = graft.TestSpark.spark
    val v2d = arange(DType.F64, 6, 4)
    val v1d = arange(DType.F64, 6)
    val xds = XbeamDataset.fromLocal(spark, Map(
      "surface" -> (Seq("t", "x"), v2d),
      "scalar_t" -> (Seq("t"), v1d)),
      chunks = Map("t" -> 3))
    val dir = Files.createTempDirectory("irregular").toString + "/store"
    xds.toZarr(dir)
    val back = XbeamDataset.fromZarr(spark, dir)
    assert(back.template.vars("surface").dims == Seq("t", "x"))
    assert(back.template.vars("scalar_t").dims == Seq("t"))
    val (_, c) = back.collectConsolidated()
    assert(c.vars("surface").arr.sameAs(v2d))
    assert(c.vars("scalar_t").arr.sameAs(v1d))
    // splitVars read of the irregular store keeps per-var dims intact
    val split = XbeamDataset.fromZarr(spark, dir, splitVars = true)
    val pairs = split.chunkDataset.collect()
    assert(pairs.length == 4) // 2 t-chunks x 2 vars
    pairs.foreach { case (k, ch) =>
      assert(k.vars.exists(_.length == 1))
      assert(ch.varNames.size == 1)
    }
  }

  test("zarr round-trip: toZarr → fromZarr → identical (integration_test.py:68-118)") {
    val path = Files.createTempDirectory("xbeam-zarr").toString + "/store"
    val xds = era5ds(Map("time" -> 4))
    xds.toZarr(path)
    val back = XbeamDataset.fromZarr(spark, path)
    assert(back.template.dimSizes == xds.template.dimSizes)
    assert(back.chunkSizes == xds.chunkSizes)
    val (_, c) = back.collectConsolidated()
    assert(c.vars("temperature").arr.sameAs(Fixtures.era5()("temperature")._2))
    assert(c.vars("precip").arr.sameAs(Fixtures.era5()("precip")._2))
  }

  test("zarr round-trip with rechunk in the middle and zlib") {
    val path = Files.createTempDirectory("xbeam-zarr2").toString + "/store"
    era5ds(Map("time" -> 3)).rechunk(Map("time" -> 6))
      .toZarr(path, compressor = Some("zlib"))
    val back = XbeamDataset.fromZarr(spark, path)
    assert(back.chunkSizes("time") == 6)
    val (_, c) = back.collectConsolidated()
    assert(c.vars("temperature").arr.sameAs(Fixtures.era5()("temperature")._2))
  }

  test("zarr round-trip over mem:// (distributed write + read, no disk)") {
    // full toZarr → fromZarr over the in-memory object store: driver
    // stages + flushes metadata, local-mode executors region-write
    // chunks into the shared JVM namespace, the scan reads them back.
    // The mem:// namespace is a JVM static, so distributed writes only
    // land in the driver's map when executors share its process —
    // single-JVM by design (a test double, not a product store).
    assume(!graft.TestSpark.isMultiJvm,
      "mem:// is process-local by design; skipped in multi-JVM runs")
    val path = "mem://bucket/xbeam-roundtrip/store"
    graft.sources.MemStore.clear(path)
    val xds = era5ds(Map("time" -> 4))
    xds.toZarr(path)
    val back = XbeamDataset.fromZarr(spark, path)
    assert(back.template.dimSizes == xds.template.dimSizes)
    assert(back.chunkSizes == xds.chunkSizes)
    val (_, c) = back.collectConsolidated()
    assert(c.vars("temperature").arr.sameAs(Fixtures.era5()("temperature")._2))
    assert(c.vars("precip").arr.sameAs(Fixtures.era5()("precip")._2))
    graft.sources.MemStore.clear(path)
  }

  test("zarr round-trip over a blosclz store (the x17 shape, cname=blosclz)") {
    // the x17 gate's write → reopen → select → head pipeline, but with
    // c-blosc's native inner codec instead of lz4
    val path = Files.createTempDirectory("xbeam-zarr-blz").toString + "/store"
    era5ds(Map("time" -> 4)).toZarr(path, compressor = Some("blosc:blosclz"))
    val za = new String(Files.readAllBytes(
      java.nio.file.Paths.get(path, "temperature", ".zarray")), "UTF-8")
    assert(za.contains("\"cname\":\"blosclz\""))
    val back = XbeamDataset.fromZarr(spark, path)
      .select(Set("temperature")).head("time", 8)
    val (_, c) = back.collectConsolidated()
    assert(c.vars("temperature").arr.sameAs(
      Fixtures.era5()("temperature")._2.slice(Array(0, 0, 0), Array(8, 5, 6))))
  }

  test("zipWith: co-partitioned aligned sum (multi-dataset zip, core.py:474-502)") {
    val a = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), arange(DType.F64, 8))), chunks = Map("t" -> 3))
    val b = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), arange(DType.F64, 8))), chunks = Map("t" -> 3))
    val summed = a.zipWith(b)({ (ca, cb) =>
      ArrayChunk(Map("v" -> VarArray(Seq("t"),
        ca.vars("v").arr.zipF64(cb.vars("v").arr)(_ + _))))
    }, a.template)
    val (_, c) = summed.collectConsolidated()
    assert(c.vars("v").arr.toDoubles.toSeq == (0 until 8).map(_ * 2.0))
  }

  test("tabular bridge: toDataFrame rows and fromDataFrame round-trip") {
    val xds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), arange(DType.F64, 4, 3))),
      chunks = Map("t" -> 2))
    val df = TabularBridge.toDataFrame(xds)
    assert(df.columns.toSeq == Seq("t", "x", "v"))
    assert(df.count() == 12)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(r => (r._1, r._2))
    assert(rows.head == (0L, 0L, 0.0) && rows.last == (3L, 2L, 11.0))
    val back = TabularBridge.fromDataFrame(df, spark,
      Seq("t" -> 4L, "x" -> 3L), Seq("v" -> DType.F64), Map("t" -> 2, "x" -> 3))
    val (_, c) = back.collectConsolidated()
    assert(c.vars("v").arr.sameAs(arange(DType.F64, 4, 3)))
  }

  test("tabular bridge preserves int64 beyond 2^53 (hash-derived ids)") {
    import spark.implicits._
    // values a double cannot hold exactly: Long.MaxValue - k is ~2^63
    // and adjacent longs there collapse under a via-double path
    val big = Seq(Long.MaxValue, Long.MaxValue - 1, -Long.MaxValue, 12345L)
    val df = big.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("t", "id")
    val xds = TabularBridge.fromDataFrame(df, spark,
      Seq("t" -> 4L), Seq("id" -> DType.I64), Map("t" -> 2))
    val out = TabularBridge.toDataFrame(xds).orderBy("t").collect()
      .map(_.getLong(1)).toSeq
    assert(out == big, s"int64 values corrupted: $out")
  }

  test("tabular bridge guard rejects a chunk whose cell count overflows Long") {
    import spark.implicits._
    val df = Seq((0L, 0L, 0L, 0L, 1.0)).toDF("a", "b", "c", "d", "v")
    // four full 2^16 dims: 2^64 cells, which wraps to 0 in a Long product
    val dims = Seq("a", "b", "c", "d").map(_ -> 65536L)
    val e = intercept[IllegalArgumentException](TabularBridge.fromDataFrame(df,
      spark, dims, Seq("v" -> DType.F64), dims.map(d => d._1 -> 65536).toMap))
    assert(e.getMessage.contains("2 GB"), e.getMessage)
  }

  test("corr/cov match hand computation; NaN pairs drop under skipna") {
    // x = [1,2,3,4], y = [2,4,6,8]: perfectly correlated → corr 1,
    // cov (ddof=1) = Σ(x-x̄)(y-ȳ)/3 = (4.5+0.5+0.5+4.5... ) = 10/3
    def two(xv: Array[Double], yv: Array[Double], ch: Int) =
      XbeamDataset.fromLocal(spark, Map(
        "a" -> (Seq("t", "x"), NdArray.fromDoubles(DType.F64, Array(xv.length, 1), xv)),
        "b" -> (Seq("t", "x"), NdArray.fromDoubles(DType.F64, Array(yv.length, 1), yv))),
        chunks = Map("t" -> ch))
    val ds = two(Array(1, 2, 3, 4), Array(2, 4, 6, 8), 2)
    val r = ds.corr("a", "b", Set("t")).collectConsolidated()._2.vars("corr").arr
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    val cv = ds.cov("a", "b", Set("t")).collectConsolidated()._2.vars("cov").arr
    assert(math.abs(cv.getDouble(0) - 10.0 / 3.0) < 1e-12)
    // chunked == unchunked (partials add exactly on integer data)
    val cv1 = two(Array(1, 2, 3, 4), Array(2, 4, 6, 8), 4)
      .cov("a", "b", Set("t")).collectConsolidated()._2.vars("cov").arr
    assert(cv.getDouble(0) == cv1.getDouble(0))
    // anti-correlated
    val rn = two(Array(1, 2, 3), Array(3, 2, 1), 2)
      .corr("a", "b", Set("t")).collectConsolidated()._2.vars("corr").arr
    assert(math.abs(rn.getDouble(0) + 1.0) < 1e-12)
    // a NaN on EITHER side drops the pair: remaining pairs (1,2),(4,8)
    val rp = two(Array(1, 2, 4), Array(2, Double.NaN, 8), 2)
      .cov("a", "b", Set("t")).collectConsolidated()._2.vars("cov").arr
    // pairs (1,2),(4,8): cov = (Σxy - ΣxΣy/n)/(n-1) = (34 - 5*10/2)/1 = 9
    assert(rp.getDouble(0) == 9.0)
    // zero variance → NaN corr
    val rz = two(Array(5, 5, 5), Array(1, 2, 3), 3)
      .corr("a", "b", Set("t")).collectConsolidated()._2.vars("corr").arr
    assert(rz.getDouble(0).isNaN)
  }

  test("rollingCorr/rollingCov match hand windows; NaN pairs and minPeriods") {
    // x = [1,2,3,5,4], y = [2,4,6,10,9]: windows of 3 (trailing)
    def two(xv: Array[Double], yv: Array[Double], ch: Int) =
      XbeamDataset.fromLocal(spark, Map(
        "a" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(xv.length), xv)),
        "b" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(yv.length), yv))),
        chunks = Map("t" -> ch))
    val ds = two(Array(1, 2, 3, 5, 4), Array(2, 4, 6, 10, 9), 2)
    val rc = ds.rollingCorr("t", 3, "a", "b")
      .collectConsolidated()._2.vars("corr").arr
    assert(rc.getDouble(0).isNaN) // below minPeriods=2
    // window [1,2]/[2,4]: perfectly correlated
    assert(math.abs(rc.getDouble(1) - 1.0) < 1e-12)
    // window [1,2,3]/[2,4,6]: still exactly linear
    assert(math.abs(rc.getDouble(2) - 1.0) < 1e-12)
    // window [3,5,4]/[6,10,9]: hand-checked n=3, Σx=12, Σy=25, Σxy=104,
    // Σx²=50, Σy²=217 → (312-300)/(√(150-144)·√(651-625)) = 12/√156
    assert(math.abs(rc.getDouble(4) - 12.0 / math.sqrt(156.0)) < 1e-12)
    val cv = ds.rollingCov("t", 3, "a", "b")
      .collectConsolidated()._2.vars("cov").arr
    // window [3,5,4]/[6,10,9]: (104 - 12·25/3)/2 = 2
    assert(cv.getDouble(4) == 2.0)
    // chunked == unchunked on integer data
    val cv1 = two(Array(1, 2, 3, 5, 4), Array(2, 4, 6, 10, 9), 5)
      .rollingCov("t", 3, "a", "b").collectConsolidated()._2.vars("cov").arr
    (0 until 5).foreach { i =>
      assert(java.lang.Double.compare(cv.getDouble(i), cv1.getDouble(i)) == 0)
    }
    // a NaN on either side voids the PAIR in every moment: window
    // [2,NaN,4]/[4,6,8] at t=2 keeps pairs (2,4),(4,8) only
    val np = two(Array(2, Double.NaN, 4), Array(4, 6, 8), 3)
      .rollingCov("t", 3, "a", "b").collectConsolidated()._2.vars("cov").arr
    // pairs (2,4),(4,8): cov = (40 - 6·12/2)/1 = 4
    assert(np.getDouble(2) == 4.0)
    // zero-variance window → NaN corr (0/0), not ±Inf
    val zv = two(Array(5, 5, 5), Array(1, 2, 3), 3)
      .rollingCorr("t", 3, "a", "b").collectConsolidated()._2.vars("corr").arr
    assert(zv.getDouble(2).isNaN)
  }

  test("reindex method=nearest/ffill/bfill snaps labels; tolerance voids") {
    // source coord t = [0, 1, 2, 3]
    val ds = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(4),
        Array(10, 11, 12, 13)))),
      chunks = Map("t" -> 2),
      coords = Map("t" -> NdArray.fromDoubles(DType.F64, Array(4),
        Array(0, 1, 2, 3))))
    def vals(x: XbeamDataset): Array[Double] = {
      val a = x.collectConsolidated()._2.vars("v").arr
      (0 until a.shape(0)).map(i => a.getDouble(i)).toArray
    }
    // nearest: 0.2→0, 0.7→1, 1.5 tie → LOWER (1), 3.4→3, 9.0 snaps to 3
    val nr = vals(ds.reindex("t", Array(0.2, 0.7, 1.5, 3.4, 9.0), "nearest"))
    assert(nr.take(4).sameElements(Array(10.0, 11.0, 11.0, 13.0)) &&
      nr(4) == 13.0)
    // ... but tolerance 0.5 voids the 9.0 target (and nothing else)
    val nt = vals(ds.reindex("t", Array(0.2, 0.7, 1.5, 3.4, 9.0), "nearest", 0.5))
    assert(nt.take(4).sameElements(Array(10.0, 11.0, 11.0, 13.0)) && nt(4).isNaN)
    // ffill: greatest label <= target; below-range is a miss
    val ff = vals(ds.reindex("t", Array(-0.5, 0.0, 0.7, 2.9), "ffill"))
    assert(ff(0).isNaN && ff(1) == 10.0 && ff(2) == 10.0 && ff(3) == 12.0)
    // bfill: smallest label >= target; above-range is a miss
    val bf = vals(ds.reindex("t", Array(0.1, 2.0, 3.2), "bfill"))
    assert(bf(0) == 11.0 && bf(1) == 12.0 && bf(2).isNaN)
    // exact stays the default
    val ex = vals(ds.reindex("t", Array(2.0, 2.5)))
    assert(ex(0) == 12.0 && ex(1).isNaN)
    // unsorted coordinate rejected for method fills
    val shuffled = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(3),
        Array(1, 2, 3)))),
      chunks = Map("t" -> 3),
      coords = Map("t" -> NdArray.fromDoubles(DType.F64, Array(3),
        Array(0, 2, 1))))
    intercept[IllegalArgumentException] {
      shuffled.reindex("t", Array(0.5), "nearest")
    }
  }

  test("ewmVar/ewmStd match the two-moment hand recursion") {
    // x = [2, 4, 8]; alpha = 0.5, unadjusted, y0 = x0:
    //   M1 = [2, 3, 5.5], M2 = [4, 10, 37]
    //   Var = M2 - M1² = [0, 1, 6.75]
    def one(ch: Int) = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(3),
        Array(2, 4, 8)))), chunks = Map("t" -> ch))
    val ev = one(2).ewmVar("t", 0.5).collectConsolidated()._2.vars("v").arr
    assert(ev.getDouble(0) == 0.0 && ev.getDouble(1) == 1.0 &&
      ev.getDouble(2) == 6.75)
    val es = one(2).ewmStd("t", 0.5).collectConsolidated()._2.vars("v").arr
    assert(es.getDouble(1) == 1.0 && es.getDouble(2) == math.sqrt(6.75))
    // chunked == unchunked bit-for-bit on dyadic data
    val ev1 = one(3).ewmVar("t", 0.5).collectConsolidated()._2.vars("v").arr
    (0 until 3).foreach { i =>
      assert(java.lang.Double.compare(ev.getDouble(i), ev1.getDouble(i)) == 0)
    }
    // constant series: variance exactly 0, std exactly 0 (no NaN from
    // the epsilon clamp)
    val cz = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(4),
        Array(7, 7, 7, 7)))), chunks = Map("t" -> 2))
      .ewmStd("t", 0.5).collectConsolidated()._2.vars("v").arr
    (0 until 4).foreach(i => assert(cz.getDouble(i) == 0.0))
  }

  test("align outer/inner/left/right; merge unites disjoint vars") {
    def mk(labels: Array[Double], vals: Array[Double], name: String = "v") =
      XbeamDataset.fromLocal(spark, Map(
        name -> (Seq("t"), NdArray.fromDoubles(DType.F64,
          Array(vals.length), vals))),
        chunks = Map("t" -> 2),
        coords = Map("t" -> NdArray.fromDoubles(DType.F64,
          Array(labels.length), labels)))
    def vals(x: XbeamDataset, name: String = "v"): Array[Double] = {
      val a = x.collectConsolidated()._2.vars(name).arr
      (0 until a.shape(0)).map(i => a.getDouble(i)).toArray
    }
    val a = mk(Array(0, 1, 2), Array(10, 11, 12))
    val b = mk(Array(2, 3), Array(22, 23))
    // outer: labels [0,1,2,3]; each side NaN where absent
    val (ao, bo) = a.align(b, "t", "outer")
    assert(vals(ao).take(3).sameElements(Array(10.0, 11.0, 12.0)) &&
      vals(ao)(3).isNaN)
    assert(vals(bo)(0).isNaN && vals(bo)(1).isNaN &&
      vals(bo)(2) == 22.0 && vals(bo)(3) == 23.0)
    // inner: [2]
    val (ai, bi) = a.align(b, "t", "inner")
    assert(vals(ai).sameElements(Array(12.0)) &&
      vals(bi).sameElements(Array(22.0)))
    // left: the left side is IDENTICAL (no reindex plan added)
    val (al, bl) = a.align(b, "t", "left")
    assert(al eq a, "left align must pass the left side through untouched")
    assert(vals(bl)(0).isNaN && vals(bl)(2) == 22.0)
    // right
    val (ar, br) = a.align(b, "t", "right")
    assert(br eq b)
    assert(vals(ar).sameElements(Array(12.0, Double.NaN)) ||
      (vals(ar)(0) == 12.0 && vals(ar)(1).isNaN))
    // merge: disjoint vars on the aligned grid
    val b2 = mk(Array(0, 1, 2), Array(20, 21, 22), "w")
    val m = a.merge(b2)
    assert(vals(m, "v").sameElements(Array(10.0, 11.0, 12.0)))
    assert(vals(m, "w").sameElements(Array(20.0, 21.0, 22.0)))
    // overlapping vars rejected
    intercept[IllegalArgumentException] {
      a.merge(mk(Array(0, 1, 2), Array(1, 2, 3)))
    }
  }

  test("whereDs three-way select: mask picks branches, NaN mask is false") {
    def one(vals: Array[Double], name: String) =
      XbeamDataset.fromLocal(spark, Map(
        name -> (Seq("t"), NdArray.fromDoubles(DType.F64,
          Array(vals.length), vals))), chunks = Map("t" -> 2))
    val a = one(Array(1, Double.NaN, 3, 4), "v")
    val b = one(Array(10, 20, 30, 40), "v")
    val cond = one(Array(1, 1, 0, Double.NaN), "mask")
    val r = a.whereDs(cond, b).collectConsolidated()._2.vars("v").arr
    // mask true keeps a (INCLUDING a genuine NaN); 0 and NaN take b
    assert(r.getDouble(0) == 1.0 && r.getDouble(1).isNaN &&
      r.getDouble(2) == 30.0 && r.getDouble(3) == 40.0)
    // mismatched variable sets rejected
    intercept[IllegalArgumentException] {
      a.whereDs(cond, one(Array(1, 2, 3, 4), "w"))
    }
  }

  test("toDataArray: sorted-name stacking, f64 promotion, errors") {
    val ds = XbeamDataset.fromLocal(spark,
      Map("b" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(3),
          Array(4, 5, 6))),
        "a" -> (Seq("t"), NdArray.fromDoubles(DType.I64, Array(3),
          Array(1, 2, 3)))),
      chunks = Map("t" -> 2))
    val out = ds.toDataArray()
    assert(out.template.dimOrder == Seq("variable", "t"))
    assert(out.template.vars.keySet == Set("value"))
    assert(out.template.vars("value").dtype == DType.F64)
    // sorted name order: a (promoted from I64) then b
    assert(out.collectConsolidated()._2.vars("value").arr.toDoubles.toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    // custom dim/name
    val named = ds.toDataArray(dim = "vv", name = "payload")
    assert(named.template.dimOrder.head == "vv" &&
      named.template.vars.keySet == Set("payload"))
    // mismatched variable dims rejected
    val ragged = XbeamDataset.fromLocal(spark,
      Map("a" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(3),
          Array(1, 2, 3))),
        "b" -> (Seq("u"), NdArray.fromDoubles(DType.F64, Array(2),
          Array(4, 5)))),
      chunks = Map("t" -> 3, "u" -> 2))
    intercept[IllegalArgumentException](ragged.toDataArray())
  }

  test("isel/dropIsel: fancy positions, repeats, coord gather, errors") {
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), NdArray.fromDoubles(DType.I64,
        Array(5, 2), Array.tabulate(10)(_.toDouble)))),
      coords = Map("t" -> NdArray.fromDoubles(DType.F64, Array(5),
        Array(10, 20, 30, 40, 50))),
      chunks = Map("t" -> 2, "x" -> 2))
    // reorder + repeat: [3, 0, 0, 4]
    val out = ds.isel("t", Array(3L, 0L, 0L, 4L))
    assert(out.template.dimSizes("t") == 4)
    assert(out.template.vars("v").dtype == DType.I64) // dtype preserved
    assert(out.collectConsolidated()._2.vars("v").arr.toDoubles.toSeq ==
      Seq(6.0, 7.0, 0.0, 1.0, 0.0, 1.0, 8.0, 9.0))
    // the coordinate gathers along
    assert(out.template.coords("t").toDoubles.toSeq ==
      Seq(40.0, 10.0, 10.0, 50.0))
    // dropIsel keeps the complement in order
    val kept = ds.dropIsel("t", Array(1L, 3L))
    assert(kept.template.coords("t").toDoubles.toSeq ==
      Seq(10.0, 30.0, 50.0))
    assert(kept.collectConsolidated()._2.vars("v").arr.toDoubles.toSeq ==
      Seq(0.0, 1.0, 4.0, 5.0, 8.0, 9.0))
    // errors: out of range; dropping everything
    intercept[IllegalArgumentException](ds.isel("t", Array(5L)))
    intercept[IllegalArgumentException](
      ds.dropIsel("t", Array(0L, 1L, 2L, 3L, 4L)))
  }

  test("resampleMedian/Quantile: per-bucket order statistics") {
    // 10 daily steps from Jan 28: Jan run = 0,1,2,3 / Feb = 4..9
    val baseNs = java.time.Instant.parse("2020-01-28T00:00:00Z")
      .getEpochSecond * 1000000000L
    val day = 24L * 3600 * 1000000000L
    val coord = NdArray.fromLongs(DType.TimeNs, Array(10),
      Array.tabulate(10)(i => baseNs + i * day))
    val vals = NdArray.fromDoubles(DType.F64, Array(10, 2),
      Array.tabulate(20)(i => (i / 2).toDouble))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
      chunks = Map("t" -> 4))
    val med = ds.resampleMedian("t", "month")
    assert(med.template.dimSizes("t") == 2)
    val got = med.collectConsolidated()._2.vars("v").arr
    // Jan median of 0,1,2,3 = 1.5; Feb median of 4..9 = 6.5
    assert(got.getDouble(0) == 1.5 && got.getDouble(2) == 6.5)
    // new coord = the period starts
    assert(med.template.coords("t").toLongs.toSeq ==
      Seq("2020-01-01T00:00:00Z", "2020-02-01T00:00:00Z").map(s =>
        java.time.Instant.parse(s).getEpochSecond * 1000000000L))
    // q=0.25 over the Feb run 4..9: h = 0.25*5 = 1.25 -> 5.25
    val q = ds.resampleQuantile("t", "month", 0.25)
      .collectConsolidated()._2.vars("v").arr
    assert(q.getDouble(2) == 5.25)
    // needs a datetime coordinate
    val plain = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(4),
        Array(1, 2, 3, 4)))), chunks = Map("t" -> 2))
    intercept[IllegalArgumentException](plain.resampleMedian("t", "month"))
  }

  test("weightedTrend: weighted OLS slope, unit weights = trend, errors") {
    // lane 0: v = 3t + 1 exactly (slope 3 under ANY weights);
    // lane 1: v = t^2 (weighting changes the fitted slope)
    val vals = NdArray.fromDoubles(DType.F64, Array(4, 2),
      Array(1, 0, 4, 1, 7, 4, 10, 9))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 2, "x" -> 2))
    val w = NdArray.fromDoubles(DType.F64, Array(4), Array(1, 1, 2, 4))
    val got = ds.weightedTrend("t", w)
      .collectConsolidated()._2.vars("v").arr.toDoubles
    assert(got(0) == 3.0)
    // lane 1 by hand: Sw=8, Swt=17, Swt2=45, Swv=45, Swtv=125
    // slope = (8*125 - 17*45)/(8*45 - 17*17) = 235/71
    assert(got(1) == 235.0 / 71.0)
    // all-ones weights reproduce the unweighted trend exactly
    val ones = NdArray.fromDoubles(DType.F64, Array(4), Array(1, 1, 1, 1))
    assert(ds.weightedTrend("t", ones)
      .collectConsolidated()._2.vars("v").arr.toDoubles.toSeq ==
      ds.trend("t").collectConsolidated()._2.vars("v").arr.toDoubles.toSeq)
    // all weight on one position -> zero denominator -> NaN
    val point = NdArray.fromDoubles(DType.F64, Array(4), Array(0, 5, 0, 0))
    assert(ds.weightedTrend("t", point)
      .collectConsolidated()._2.vars("v").arr.getDouble(0).isNaN)
    // errors: wrong length, negative weight, non-finite weight
    intercept[IllegalArgumentException](ds.weightedTrend("t",
      NdArray.fromDoubles(DType.F64, Array(3), Array(1, 1, 1))))
    intercept[IllegalArgumentException](ds.weightedTrend("t",
      NdArray.fromDoubles(DType.F64, Array(4), Array(1, -1, 1, 1))))
    intercept[IllegalArgumentException](ds.weightedTrend("t",
      NdArray.fromDoubles(DType.F64, Array(4),
        Array(1, Double.PositiveInfinity, 1, 1))))
    intercept[IllegalArgumentException](ds.weightedQuantile(0.5, Set("t"),
      Map("t" -> NdArray.fromDoubles(DType.F64, Array(4),
        Array(1, Double.PositiveInfinity, 1, 1)))))
  }

  test("weightedPolyfit: exact quadratic, unit weights = polyfit, deg1 = trend") {
    // lane 0: v = 2t^2 - 3t + 5 exactly — ANY weights recover it
    val n = 6
    val vals = NdArray.fromDoubles(DType.F64, Array(n, 1),
      Array.tabulate(n)(t => 2.0 * t * t - 3 * t + 5))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 2, "x" -> 1))
    val w = NdArray.fromDoubles(DType.F64, Array(n), Array(1, 3, 2, 5, 1, 4))
    val got = ds.weightedPolyfit("t", 2, w)
      .collectConsolidated()._2.vars("v").arr.toDoubles
    assert(got.toSeq == Seq(2.0, -3.0, 5.0)) // highest power first
    // all-ones weights reproduce the unweighted fit exactly
    val ones = NdArray.fromDoubles(DType.F64, Array(n), Array.fill(n)(1.0))
    assert(ds.weightedPolyfit("t", 2, ones)
      .collectConsolidated()._2.vars("v").arr.toDoubles.toSeq ==
      ds.polyfit("t", 2).collectConsolidated()._2.vars("v").arr.toDoubles.toSeq)
    // deg-1 weighted fit's slope plane equals weightedTrend
    val p1 = ds.weightedPolyfit("t", 1, w)
      .collectConsolidated()._2.vars("v").arr
    assert(p1.getDouble(0) ==
      ds.weightedTrend("t", w).collectConsolidated()._2.vars("v").arr
        .getDouble(0))
    // all weight on two positions -> deg-2 system singular -> NaN
    val two = NdArray.fromDoubles(DType.F64, Array(n),
      Array(1, 1, 0, 0, 0, 0))
    assert(ds.weightedPolyfit("t", 2, two)
      .collectConsolidated()._2.vars("v").arr.getDouble(0).isNaN)
    // underdetermined via NaN + FRACTIONAL weights: only 2 valid
    // points remain, and the singular system's FP determinant is
    // rounding noise, not exact zero — the valid-count plane must
    // reject it (NaN), never emit a noise parabola
    val nanVals = NdArray.fromDoubles(DType.F64, Array(n, 1),
      Array(Double.NaN, 2, Double.NaN, Double.NaN, 7, Double.NaN))
    val dsNa = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), nanVals)), chunks = Map("t" -> 2, "x" -> 1))
    val frac = NdArray.fromDoubles(DType.F64, Array(n),
      Array(0.2, 0.1, 0.2, 0.2, 0.3, 0.2))
    assert(dsNa.weightedPolyfit("t", 2, frac)
      .collectConsolidated()._2.vars("v").arr.getDouble(0).isNaN)
    // same hole's trend twin: ONE valid point + fractional weight
    val oneVal = NdArray.fromDoubles(DType.F64, Array(n, 1),
      Array(Double.NaN, Double.NaN, Double.NaN, 4, Double.NaN, Double.NaN))
    val dsOne = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), oneVal)), chunks = Map("t" -> 2, "x" -> 1))
    assert(dsOne.weightedTrend("t", frac)
      .collectConsolidated()._2.vars("v").arr.getDouble(0).isNaN)
    // errors: wrong length; non-finite weight
    intercept[IllegalArgumentException](ds.weightedPolyfit("t", 2,
      NdArray.fromDoubles(DType.F64, Array(3), Array(1, 1, 1))))
    intercept[IllegalArgumentException](ds.weightedPolyfit("t", 2,
      NdArray.fromDoubles(DType.F64, Array(n),
        Array(1, Double.NaN, 1, 1, 1, 1))))
  }

  test("weightedQuantile: inverted CDF, ties, skipna, implicit-1 dims") {
    // per x-lane values over t=4 with weights 1,2,3,4 (total 10)
    val vals = NdArray.fromDoubles(DType.F64, Array(4, 2),
      // lane 0: 10,20,30,40; lane 1: 5,5,7,NaN
      Array(10, 5, 20, 5, 30, 7, 40, Double.NaN))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 2, "x" -> 2))
    val w = NdArray.fromDoubles(DType.F64, Array(4), Array(1, 2, 3, 4))
    val got = ds.weightedQuantile(0.5, Set("t"), Map("t" -> w))
      .collectConsolidated()._2.vars("v").arr.toDoubles
    // lane 0: cum 1,3,6,10 vs threshold 5 -> 30
    assert(got(0) == 30.0)
    // lane 1: NaN drops with weight 4 -> total 6, threshold 3;
    // ties at 5 share cum 3 >= 3 -> 5 (the CDF group crossing)
    assert(got(1) == 5.0)
    // skipna=false poisons the NaN lane only
    val strict = ds.weightedQuantile(0.5, Set("t"), Map("t" -> w),
      skipna = false).collectConsolidated()._2.vars("v").arr.toDoubles
    assert(strict(0) == 30.0 && strict(1).isNaN)
    // reducing BOTH dims with only t weighted: x weighs 1 implicitly;
    // pairs (v, w): lane0 and lane1 values share their t weight
    val both = ds.weightedQuantile(0.5, Set("t", "x"), Map("t" -> w))
      .collectConsolidated()._2.vars("v").arr.toDoubles
    // values sorted: 5(1),5(2),7(3),10(1),20(2),30(3),40(4); lane 1's
    // NaN drops its weight 4 -> total 16, threshold 8: cum 1,3,6,7,9
    assert(both(0) == 20.0)
    // q=1 picks the max; q=0 the min
    assert(ds.weightedQuantile(1.0, Set("t"), Map("t" -> w))
      .collectConsolidated()._2.vars("v").arr.getDouble(0) == 40.0)
    assert(ds.weightedQuantile(0.0, Set("t"), Map("t" -> w))
      .collectConsolidated()._2.vars("v").arr.getDouble(0) == 10.0)
    // errors: weight on a non-reduced dim; wrong length; negative
    intercept[IllegalArgumentException](
      ds.weightedQuantile(0.5, Set("t"), Map("x" -> w)))
    intercept[IllegalArgumentException](
      ds.weightedQuantile(0.5, Set("t"), Map("t" ->
        NdArray.fromDoubles(DType.F64, Array(3), Array(1, 2, 3)))))
    intercept[IllegalArgumentException](
      ds.weightedQuantile(0.5, Set("t"), Map("t" ->
        NdArray.fromDoubles(DType.F64, Array(4), Array(1, -2, 3, 4)))))
  }

  test("resampleUpsample: day grid inside range, all four methods, errors") {
    // 4 positions every 36 h from midnight: 0h, 36h, 72h, 108h —
    // day boundaries inside [0, 108h] are 0/24/48/72/96 h (5 targets)
    val baseNs = java.time.Instant.parse("2021-03-01T00:00:00Z")
      .getEpochSecond * 1000000000L
    val h36 = 36L * 3600 * 1000000000L
    val coord = NdArray.fromLongs(DType.TimeNs, Array(4),
      Array.tabulate(4)(i => baseNs + i * h36))
    def mk(dt: DType) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), NdArray.fromDoubles(dt, Array(4),
        Array(10, 20, 30, 40)))),
      coords = Map("t" -> coord), chunks = Map("t" -> 2))
    val ff = mk(DType.F64).resampleUpsample("t", "day", "ffill")
    assert(ff.template.dimSizes("t") == 5)
    // day k is 24k h; latest source at/before: 0,0,1,2,2
    assert(ff.collectConsolidated()._2.vars("v").arr.toDoubles.toSeq ==
      Seq(10.0, 10.0, 20.0, 30.0, 30.0))
    assert(mk(DType.F64).resampleUpsample("t", "day", "bfill")
      .collectConsolidated()._2.vars("v").arr.toDoubles.toSeq ==
      Seq(10.0, 20.0, 30.0, 30.0, 40.0))
    // nearest: 24h is 24 from 0h and 12 from 36h -> 20; 48h ties never
    // occur on this grid (12 vs 24, 0 vs 36, ...)
    assert(mk(DType.F64).resampleUpsample("t", "day", "nearest")
      .collectConsolidated()._2.vars("v").arr.toDoubles.toSeq ==
      Seq(10.0, 20.0, 20.0, 30.0, 40.0))
    // linear: exact thirds-free weights 24/36 = 2/3 etc. — 24h between
    // 10 and 20 at w=2/3 -> 16.666...; use dyadic-friendly check via
    // 96h = between 72h(30) and 108h(40) at w=2/3
    val lin = mk(DType.F64).resampleUpsample("t", "day", "linear")
      .collectConsolidated()._2.vars("v").arr.toDoubles
    assert(lin(0) == 10.0 && math.abs(lin(1) - (10 + 10 * 2.0 / 3)) < 1e-12)
    // integer dtype survives the resolved fill methods
    val iff = mk(DType.I64).resampleUpsample("t", "day", "ffill")
    assert(iff.template.vars("v").dtype == DType.I64)
    // the new coordinate is the day boundaries
    assert(ff.template.coords("t").toLongs.toSeq ==
      Seq.tabulate(5)(k => baseNs + k * 24L * 3600 * 1000000000L))
    // unaligned start (xarray bin-label grid): first obs at 06:00,
    // the leading midnight label forward-fills to NaN and the dim
    // variable widens to f64 — exactly xarray's resample().ffill()
    val h6 = 6L * 3600 * 1000000000L
    val off = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), NdArray.fromDoubles(DType.I64, Array(4),
        Array(10, 20, 30, 40)))),
      coords = Map("t" -> NdArray.fromLongs(DType.TimeNs, Array(4),
        Array.tabulate(4)(i => baseNs + h6 + i * h36))),
      chunks = Map("t" -> 2))
    val offF = off.resampleUpsample("t", "day", "ffill")
    assert(offF.template.vars("v").dtype == DType.F64)
    val offVals = offF.collectConsolidated()._2.vars("v").arr.toDoubles
    // targets 0,24,48,72,96 h; obs at 6,42,78,114 h — ffill picks the
    // latest obs at/before each: none, 6h, 42h, 42h, 78h
    assert(offVals(0).isNaN &&
      offVals.drop(1).toSeq == Seq(10.0, 20.0, 20.0, 30.0))
    // linear still never extrapolates: its grid starts at ceil(min)
    val offL = off.astype(DType.F64).resampleUpsample("t", "day", "linear")
    assert(offL.template.coords("t").toLongs.head == baseNs + 24L * 3600 * 1000000000L)
    // errors: non-fixed-width period; unknown method; no datetime coord
    intercept[IllegalArgumentException](
      mk(DType.F64).resampleUpsample("t", "month", "ffill"))
    intercept[IllegalArgumentException](
      mk(DType.F64).resampleUpsample("t", "day", "pad"))
    val noCoord = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(4),
        Array(1, 2, 3, 4)))), chunks = Map("t" -> 2))
    intercept[IllegalArgumentException](
      noCoord.resampleUpsample("t", "day", "ffill"))
  }

  test("broadcastLike: tiles new leading dims, coords carry, errors") {
    // target grid (t=5, x=2) with a coordinate on t and uneven t-chunks
    val tgt = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), NdArray.fromDoubles(DType.F64,
        Array(5, 2), Array.tabulate(10)(_.toDouble)))),
      coords = Map("t" -> NdArray.fromDoubles(DType.F64, Array(5),
        Array(10, 20, 30, 40, 50))),
      chunks = Map("t" -> 2, "x" -> 2))
    // source: an (x,) sliver — per-x values 7 and 9
    val src = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("x"), NdArray.fromDoubles(DType.F64,
        Array(2), Array(7, 9)))), chunks = Map("x" -> 2))
    val out = src.broadcastLike(tgt)
    assert(out.template.dimOrder == Seq("t", "x"))
    assert(out.template.dimSizes == Map("t" -> 5L, "x" -> 2L))
    assert(out.chunkSizes == Map("t" -> 2, "x" -> 2))
    // the target's t coordinate rides along
    assert(out.template.coords("t").toDoubles.toSeq ==
      Seq(10.0, 20.0, 30.0, 40.0, 50.0))
    val arr = out.collectConsolidated()._2.vars("v").arr
    assert(arr.shape.toSeq == Seq(5, 2))
    assert(arr.toDoubles.toSeq == Seq.fill(5)(Seq(7.0, 9.0)).flatten)
    // integer dtype survives the tile
    val isrc = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("x"), NdArray.fromDoubles(DType.I64,
        Array(2), Array(3, 4)))), chunks = Map("x" -> 2))
    val iout = isrc.broadcastLike(tgt.astype(Map("v" -> DType.I64)))
    assert(iout.template.vars("v").dtype == DType.I64)
    assert(iout.collectConsolidated()._2.vars("v").arr.toDoubles.toSeq ==
      Seq.fill(5)(Seq(3.0, 4.0)).flatten)
    // errors: nothing to broadcast; shared-dim extent mismatch
    intercept[IllegalArgumentException](tgt.broadcastLike(tgt))
    val wrong = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), NdArray.fromDoubles(DType.F64,
        Array(5, 3), Array.fill(15)(0.0)))), chunks = Map("t" -> 5, "x" -> 3))
    intercept[IllegalArgumentException](src.broadcastLike(wrong))
  }

  test("cross: 3-vector product per cell, unit axes, errors") {
    // fields over (c=3, t=2): a = rows of vectors
    def mk(vecs: Array[Double]) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("c", "t"), NdArray.fromDoubles(DType.F64,
        Array(3, 2), vecs))), chunks = Map("c" -> 3, "t" -> 1))
    // t=0: x̂ × ŷ = ẑ; t=1: (1,2,3) × (4,5,6) = (-3, 6, -3)
    val a = mk(Array(1, 1, 0, 2, 0, 3))  // c-major: a0=(1,1) a1=(0,2) a2=(0,3)
    val b = mk(Array(0, 4, 1, 5, 0, 6))
    val out = a.cross(b, "c").collectConsolidated()._2.vars("v").arr
    // t=0: a=(1,0,0) b=(0,1,0) → (0,0,1); t=1: (1,2,3)×(4,5,6)=(-3,6,-3)
    assert(out.toDoubles.toSeq == Seq(0.0, -3.0, 0.0, 6.0, 1.0, -3.0))
    // the chunked-along-t distributed answer equals the single-chunk one
    val a2 = mk(Array(1, 1, 0, 2, 0, 3)).rechunk(Map("t" -> 2))
    val b2 = mk(Array(0, 4, 1, 5, 0, 6)).rechunk(Map("t" -> 2))
    assert(a2.cross(b2, "c").collectConsolidated()._2.vars("v").arr
      .toDoubles.toSeq == out.toDoubles.toSeq)
    // errors: wrong dim size; dim chunked below 3; var missing the dim
    assertThrows[IllegalArgumentException](a.cross(b, "t"))
    val ch = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("c", "t"), NdArray.fromDoubles(DType.F64,
        Array(3, 2), Array.fill(6)(1.0)))), chunks = Map("c" -> 1))
    assertThrows[IllegalArgumentException](ch.cross(ch, "c"))
  }

  test("combineFirst: self wins, other fills, union of vars, int untouched") {
    def one(vals: Map[String, Array[Double]], dt: DType = DType.F64) =
      XbeamDataset.fromLocal(spark, vals.map { case (n, vs) =>
        (n, (Seq("t"), NdArray.fromDoubles(dt, Array(vs.length), vs)))
      }, chunks = Map("t" -> 2))
    val a = one(Map("v" -> Array(1, Double.NaN, 3, Double.NaN),
                    "onlyA" -> Array(7.0, 7, 7, 7)))
    val b = one(Map("v" -> Array(10.0, 20, 30, 40),
                    "onlyB" -> Array(9.0, 9, 9, 9)))
    val out = a.combineFirst(b).collectConsolidated()._2
    assert(out.vars("v").arr.toDoubles.toSeq == Seq(1.0, 20.0, 3.0, 40.0))
    // one-sided variables pass through (xarray's union semantics)
    assert(out.vars("onlyA").arr.toDoubles.toSeq == Seq(7.0, 7, 7, 7))
    assert(out.vars("onlyB").arr.toDoubles.toSeq == Seq(9.0, 9, 9, 9))
    // a genuine NaN on BOTH sides stays NaN
    val bn = one(Map("v" -> Array(10.0, Double.NaN, 30, 40)))
    assert(a.select(Set("v")).combineFirst(bn)
      .collectConsolidated()._2.vars("v").arr.getDouble(1).isNaN)
    // shared integer variables pass self through, dtype preserved
    val ia = one(Map("k" -> Array(1.0, 2, 3, 4)), DType.I64)
    val ib = one(Map("k" -> Array(5.0, 6, 7, 8)), DType.I64)
    val ic = ia.combineFirst(ib)
    assert(ic.template.vars("k").dtype == DType.I64)
    assert(ic.collectConsolidated()._2.vars("k").arr.toDoubles.toSeq ==
      Seq(1.0, 2, 3, 4))
    // F32 self + F64 other promotes to F64 (the wider float)
    val fa = one(Map("v" -> Array(1.0f.toDouble, Double.NaN)), DType.F32)
    val fb = one(Map("v" -> Array(5.0, 6.5)))
    val fc = fa.combineFirst(fb)
    assert(fc.template.vars("v").dtype == DType.F64)
    assert(fc.collectConsolidated()._2.vars("v").arr.toDoubles.toSeq ==
      Seq(1.0, 6.5))
  }

  test("truncate is a narrow restriction; coarsen boundary=trim drops the tail") {
    val ds = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(7),
        Array(1, 2, 3, 4, 5, 6, 7)))), chunks = Map("t" -> 4),
      coords = Map("t" -> NdArray.fromDoubles(DType.F64, Array(7),
        Array.tabulate(7)(_.toDouble))))
    val tr = ds.truncate("t", 5)
    assert(tr.template.dimSizes("t") == 5L)
    val a = tr.collectConsolidated()._2.vars("v").arr
    assert((0 until 5).map(a.getDouble(_)).sameElements(Seq(1.0, 2, 3, 4, 5)))
    assert(tr.template.coords("t").toDoubles.sameElements(
      Array(0.0, 1, 2, 3, 4)))
    // trim: 7 → 6 under factor 2, means of (1,2),(3,4),(5,6)
    val cz = ds.coarsen(Map("t" -> 2), "mean", boundary = "trim")
      .collectConsolidated()._2.vars("v").arr
    assert((0 until 3).map(cz.getDouble(_)).sameElements(Seq(1.5, 3.5, 5.5)))
    // exact boundary still rejects ragged sizes
    intercept[IllegalArgumentException] { ds.coarsen(Map("t" -> 2)) }
  }

  test("dot sums the elementwise product over dims (xr.dot)") {
    val ds = XbeamDataset.fromLocal(spark, Map(
      "a" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(4), Array(1, 2, 3, 4))),
      "b" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(4), Array(5, 6, 7, 8)))),
      chunks = Map("t" -> 2))
    val d = ds.dot("a", "b", Set("t")).collectConsolidated()._2.vars("dot").arr
    assert(d.getDouble(0) == 5.0 + 12 + 21 + 32)
  }

  test("weightedSum/weightedVar/weightedStd match hand computation") {
    // values [1,2,4], weights [1,2,3]: Σwv = 17, μ = 17/6,
    // Σwv² = 1 + 8 + 48 = 57, var = 57/6 − (17/6)² ≈ 1.4722
    val vals = NdArray.fromDoubles(DType.F64, Array(3, 1), Array(1.0, 2.0, 4.0))
    def one(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
    val w = Map("t" -> NdArray.fromDoubles(DType.F64, Array(3), Array(1.0, 2.0, 3.0)))
    assert(one(3).weightedSum(Set("t"), w)
      .collectConsolidated()._2.vars("v").arr.getDouble(0) == 17.0)
    assert(one(2).weightedSum(Set("t"), w)
      .collectConsolidated()._2.vars("v").arr.getDouble(0) == 17.0)
    val expectVar = 57.0 / 6.0 - (17.0 / 6.0) * (17.0 / 6.0)
    val v = one(2).weightedVar(Set("t"), w)
      .collectConsolidated()._2.vars("v").arr.getDouble(0)
    assert(math.abs(v - expectVar) < 1e-12)
    val sd = one(2).weightedStd(Set("t"), w)
      .collectConsolidated()._2.vars("v").arr.getDouble(0)
    assert(math.abs(sd - math.sqrt(expectVar)) < 1e-12)
    // NaN masks value AND weight: [1,NaN,4]·[1,2,3] → Σwv=13, Σw=4
    val nan = NdArray.fromDoubles(DType.F64, Array(3, 1),
      Array(1.0, Double.NaN, 4.0))
    val ns = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), nan)), chunks = Map("t" -> 2))
      .weightedSum(Set("t"), w).collectConsolidated()._2.vars("v").arr
    assert(ns.getDouble(0) == 13.0)
  }

  test("pad wrap copies from the opposite end of the lane") {
    // [0..5] chunked 2, pad (2, 3) wrap →
    // [4,5, 0,1,2,3,4,5, 0,1,2]
    val vals = NdArray.fromDoubles(DType.F64, Array(6),
      Array.tabulate(6)(_.toDouble))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), vals)), chunks = Map("t" -> 3))
    val out = ds.pad("t", 2, 3, mode = "wrap")
      .collectConsolidated()._2.vars("v").arr
    assert(out.toDoubles.toSeq ==
      Seq(4.0, 5, 0, 1, 2, 3, 4, 5, 0, 1, 2))
    // single-chunk lane: the same chunk feeds both pads
    val one = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), vals)), chunks = Map("t" -> 6))
      .pad("t", 2, 2, mode = "wrap")
      .collectConsolidated()._2.vars("v").arr
    assert(one.toDoubles.toSeq == Seq(4.0, 5, 0, 1, 2, 3, 4, 5, 0, 1))
    // pad wider than the edge chunk is rejected loudly
    assertThrows[IllegalArgumentException] {
      ds.pad("t", 4, 0, mode = "wrap") // lastExt = 3 < 4
    }
  }

  test("sortby reorders by coordinate via the reindex gather") {
    // coord [30,10,20] ascending sort → order [10,20,30] = rows (1,2,0)
    val vals = NdArray.fromDoubles(DType.F64, Array(3, 2),
      Array(1.0, 2, 3, 4, 5, 6))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)),
      coords = Map("t" -> NdArray.fromDoubles(DType.F64, Array(3),
        Array(30.0, 10.0, 20.0))),
      chunks = Map("t" -> 2))
    val asc = ds.sortby("t").collectConsolidated()._2.vars("v").arr
    assert(asc.toDoubles.toSeq == Seq(3.0, 4, 5, 6, 1, 2))
    val desc = ds.sortby("t", descending = true)
      .collectConsolidated()._2.vars("v").arr
    assert(desc.toDoubles.toSeq == Seq(1.0, 2, 5, 6, 3, 4))
  }

  test("assignCoords attaches/replaces/drops a dim coordinate plan-time") {
    val vals = NdArray.fromDoubles(DType.F64, Array(4), Array(1.0, 2, 3, 4))
    val ds = XbeamDataset.fromLocal(spark, Map("v" -> (Seq("t"), vals)),
      chunks = Map("t" -> 2))
    val coord = NdArray.fromDoubles(DType.F64, Array(4), Array(3.0, 1, 2, 0))
    val withC = ds.assignCoords("t", coord)
    assert(withC.template.coords("t").sameAs(coord))
    // coordinate-consuming ops read it: sortby by the new labels
    assert(withC.sortby("t").collectConsolidated()._2.vars("v").arr
      .toDoubles.toSeq == Seq(4.0, 2, 3, 1))
    // replace, then drop (reset_index flavor)
    val replaced = withC.assignCoords("t",
      NdArray.fromLongs(DType.I64, Array(4), Array(9L, 8, 7, 6)))
    assert(replaced.template.coords("t").toDoubles.head == 9.0)
    assert(withC.assignCoords("t", None).template.coords.isEmpty)
    // validation: unknown dim, wrong length
    assertThrows[IllegalArgumentException](ds.assignCoords("nope", coord))
    assertThrows[IllegalArgumentException](ds.assignCoords("t",
      NdArray.fromDoubles(DType.F64, Array(3), Array(1.0, 2, 3))))
  }

  test("setIndex promotes a 1-D variable to the coordinate; reset inverts") {
    val key = NdArray.fromDoubles(DType.F64, Array(4), Array(2.5, 0.5, 3.5, 1.5))
    val data = NdArray.fromDoubles(DType.F64, Array(4, 2),
      Array.tabulate(8)(_.toDouble))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), data), "k" -> (Seq("t"), key)),
      chunks = Map("t" -> 2))
    val indexed = ds.setIndex("k")
    assert(!indexed.template.vars.contains("k"))
    assert(indexed.template.coords("t").sameAs(key))
    // the promoted coordinate drives sortby: key order 0.5,1.5,2.5,3.5
    // = source rows 1,3,0,2
    val sorted = indexed.sortby("t").collectConsolidated()._2.vars("v").arr
    assert(sorted.toDoubles.toSeq ==
      Seq(2.0, 3, 6, 7, 0, 1, 4, 5))
    // dtype of an integer index survives
    val dsI = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(3),
        Array(1.0, 2, 3))),
        "ik" -> (Seq("t"), NdArray.fromLongs(DType.I64, Array(3),
          Array(30L, 10L, 20L)))),
      chunks = Map("t" -> 2))
    assert(dsI.setIndex("ik").template.coords("t").dtype == DType.I64)
    // reset_index drops it again
    assert(indexed.assignCoords("t", None).template.coords.isEmpty)
    // errors: unknown var; a 2-D var cannot index
    assertThrows[IllegalArgumentException](ds.setIndex("nope"))
    assertThrows[IllegalArgumentException](ds.setIndex("v"))
    // an index variable whose copies DISAGREE across other-dim chunks
    // (a per-chunk-derived key) is rejected, not silently
    // last-write-wins: chunk x in {0,1} derives k = x-dependent values
    val disagree = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), data), "k" -> (Seq("t"), key)),
      chunks = Map("t" -> 2, "x" -> 1))
      .mapBlocks { c =>
        val xDep = c.vars("v").arr.getDouble(0) // differs per x chunk
        ArrayChunk(c.vars + ("k" -> VarArray(Seq("t"),
          NdArray.fromDoubles(DType.F64, Array(c.vars("k").arr.shape(0)),
            Array.fill(c.vars("k").arr.shape(0))(xDep)))))
      }
    val eDis = intercept[Exception](disagree.setIndex("k"))
    assert(eDis.getMessage.contains("not constant") ||
      (eDis.getCause != null &&
        eDis.getCause.getMessage.contains("not constant")))
    // swap_dims = setIndex + dim rename: the dim takes the variable's
    // name, the variable's values become its coordinate, and every
    // coordinate consumer works under the new name
    val swapped = ds.swapDims("t", "k")
    assert(swapped.template.dimOrder == Seq("k", "x"))
    assert(!swapped.template.vars.contains("k"))
    assert(swapped.template.vars("v").dims == Seq("k", "x"))
    assert(swapped.template.coords("k").sameAs(key))
    val sw = swapped.sortby("k").collectConsolidated()._2.vars("v").arr
    assert(sw.toDoubles.toSeq == Seq(2.0, 3, 6, 7, 0, 1, 4, 5))
    assertThrows[IllegalArgumentException](ds.swapDims("x", "v"))
  }

  test("astype casts per-variable: truncation, narrowing, bool, identity") {
    val ds = XbeamDataset.fromLocal(spark, Map(
      "f" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(4),
        Array(1.9, -2.9, Double.NaN, 3.0))),
      "i" -> (Seq("t"), NdArray.fromLongs(DType.I64, Array(4),
        Array(5L, -7L, 0L, 1L << 54)))),
      chunks = Map("t" -> 2))
    // float -> int truncates toward zero; NaN -> 0 (JVM saturating cast)
    val fi = ds.astype(Map("f" -> DType.I64))
    assert(fi.template.vars("f").dtype == DType.I64)
    assert(fi.template.vars("i").dtype == DType.I64) // untouched
    val (_, c1) = fi.collectConsolidated()
    assert(c1.vars("f").arr.toLongs.toSeq == Seq(1L, -2L, 0L, 3L))
    // int -> float rounds past 2^53 (1<<54 + nothing lost here, exact)
    val if64 = ds.astype(Map("i" -> DType.F64))
    assert(if64.template.vars("i").dtype == DType.F64)
    assert(if64.collectConsolidated()._2.vars("i").arr.toDoubles.toSeq ==
      Seq(5.0, -7.0, 0.0, math.pow(2, 54)))
    // f64 -> f32 rounds to nearest float
    val f32 = ds.select(Set("f")).astype(DType.F32)
    assert(f32.template.vars("f").dtype == DType.F32)
    val g32 = f32.collectConsolidated()._2.vars("f").arr
    assert(g32.getDouble(0) == 1.9f.toDouble)
    // any -> bool is != 0, NaN -> true (numpy truthiness)
    val b = ds.astype(Map("f" -> DType.Bool)).collectConsolidated()
      ._2.vars("f").arr
    assert(b.toDoubles.toSeq == Seq(1.0, 1.0, 1.0, 1.0))
    val b0 = XbeamDataset.fromLocal(spark, Map(
      "z" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(2),
        Array(0.0, 2.0)))), chunks = Map("t" -> 2))
      .astype(DType.Bool).collectConsolidated()._2.vars("z").arr
    assert(b0.toDoubles.toSeq == Seq(0.0, 1.0))
    // same-dtype cast is the identity; unknown variable rejects
    assert(ds.astype(Map("i" -> DType.I64)).collectConsolidated()
      ._2.vars("i").arr.toLongs.toSeq == Seq(5L, -7L, 0L, 1L << 54))
    assertThrows[IllegalArgumentException](ds.astype(Map("nope" -> DType.F64)))
  }

  test("fullLike/zerosLike/onesLike keep shape+chunking, fill the value") {
    import graft.Fixtures.arange
    val ds = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t", "x"), arange(DType.F64, 4, 3)),
      "i" -> (Seq("t"), arange(DType.I64, 4))),
      chunks = Map("t" -> 2, "x" -> 3))
    val full = ds.fullLike(7.5)
    assert(full.template.dimSizes == ds.template.dimSizes)
    assert(full.chunkSizes == ds.chunkSizes)
    val (_, c) = full.collectConsolidated()
    assert(c.vars("v").arr.toDoubles.forall(_ == 7.5))
    assert(c.vars("i").arr.toDoubles.forall(_ == 7.5))
    assert(ds.zerosLike.collectConsolidated()._2.vars("v").arr
      .toDoubles.forall(_ == 0.0))
    assert(ds.onesLike.collectConsolidated()._2.vars("i").arr
      .toDoubles.forall(_ == 1.0))
    // integer template recovers through astype
    assert(ds.zerosLike.astype(Map("i" -> DType.I64))
      .template.vars("i").dtype == DType.I64)
  }

  test("any/all boolean reductions: numpy truthiness incl. NaN-is-true") {
    val ds = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t", "x"), NdArray.fromDoubles(DType.F64, Array(3, 2),
        Array(0.0, 0.0, /* t=0: all false */
              1.0, 0.0, /* t=1: mixed */
              Double.NaN, 2.0 /* t=2: NaN counts true */ )))),
      chunks = Map("t" -> 2, "x" -> 2))
    val anyR = ds.any(Set("x"))
    assert(anyR.template.vars("v").dtype == DType.Bool)
    assert(anyR.collectConsolidated()._2.vars("v").arr.toDoubles.toSeq ==
      Seq(0.0, 1.0, 1.0))
    assert(ds.all(Set("x")).collectConsolidated()._2.vars("v").arr
      .toDoubles.toSeq == Seq(0.0, 0.0, 1.0))
    // reduce everything: one scalar per variable
    assert(ds.any(Set("t", "x")).collectConsolidated()._2.vars("v").arr
      .toDoubles.toSeq == Seq(1.0))
    assert(ds.all(Set("t", "x")).collectConsolidated()._2.vars("v").arr
      .toDoubles.toSeq == Seq(0.0))
  }

  test("all-resolved gather ops preserve dtype; unresolved reindex widens") {
    // Guard against the r15 class of regression: the gather
    // (XbeamDataset.reindexGather) preserves the source dtype whenever
    // every output position resolves to a source row (sortby, dropSel,
    // dropDuplicates, dropna, all-present reindex), and widens to F64
    // only when NaN fills are possible. Engine output dtype and the
    // template's declared dtype must BOTH match, so an engine change
    // can't silently split from the oracle SQL again.
    val iv = NdArray.fromLongs(DType.I64, Array(6), Array(9L, 8, 7, 6, 5, 4))
    val ds = XbeamDataset.fromLocal(spark,
      Map("iv" -> (Seq("t"), iv)),
      coords = Map("t" -> NdArray.fromDoubles(DType.F64, Array(6),
        Array(5.0, 3, 1, 0, 2, 4))),
      chunks = Map("t" -> 2))
    def check(out: XbeamDataset, want: DType): Unit = {
      assert(out.template.vars("iv").dtype == want)
      assert(out.collectConsolidated()._2.vars("iv").arr.dtype == want)
    }
    check(ds.sortby("t"), DType.I64)
    check(ds.sortby("t", descending = true), DType.I64)
    check(ds.dropSel("t", Array(1.0, 4.0)), DType.I64)
    check(ds.dropna("t"), DType.I64)
    check(ds.reindex("t", Array(0.0, 1, 2, 3, 4, 5)), DType.I64) // all hit
    check(ds.reindex("t", Array(0.0, 99.0)), DType.F64)          // a miss
    val dup = XbeamDataset.fromLocal(spark,
      Map("iv" -> (Seq("t"), iv)),
      coords = Map("t" -> NdArray.fromLongs(DType.I64, Array(6),
        Array(0L, 0, 1, 1, 2, 2))),
      chunks = Map("t" -> 2))
    check(dup.dropDuplicates("t"), DType.I64)
  }

  test("groupbyCoordMean groups interleaved coordinate values") {
    // coord [0,1,0,2,1,0,2,1,0,1]: groups interleave across chunk
    // boundaries (what resample's contiguous-run contract rejects)
    val groups = Array(0L, 1, 0, 2, 1, 0, 2, 1, 0, 1)
    val vals = NdArray.fromDoubles(DType.F64, Array(10, 2),
      Array.tabulate(20)(_.toDouble))
    def byGroup(g: Long, x: Int): Seq[Double] =
      (0 until 10).filter(groups(_) == g).map(t => vals.getDouble(t * 2 + x))
    for (ch <- Seq(3, 4, 10)) {
      val ds = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)),
        coords = Map("t" -> NdArray.fromLongs(DType.I64, Array(10), groups)),
        chunks = Map("t" -> ch))
      val r = ds.groupbyCoordMean("t")
      assert(r.template.dimSizes("t") == 3)
      // output coord = sorted distinct group values, dtype preserved
      assert(r.template.coords("t").dtype == DType.I64)
      assert(r.template.coords("t").toLongs.toSeq == Seq(0L, 1L, 2L))
      val got = r.collectConsolidated()._2.vars("v").arr
      for (g <- 0 until 3; x <- 0 until 2) {
        val m = byGroup(g, x)
        assert(got.getDouble(g * 2 + x) == m.sum / m.length,
          s"ch=$ch g=$g x=$x")
      }
      // generalized reductions share the machinery
      val mx = ds.groupbyCoordReduce("t", "max")
        .collectConsolidated()._2.vars("v").arr
      for (g <- 0 until 3; x <- 0 until 2)
        assert(mx.getDouble(g * 2 + x) == byGroup(g, x).max)
      val ct = ds.groupbyCoordReduce("t", "count")
        .collectConsolidated()._2.vars("v").arr
      for (g <- 0 until 3; x <- 0 until 2)
        assert(ct.getDouble(g * 2 + x) == byGroup(g, x).length.toDouble)
    }
    // a NaN float coord label is rejected loudly
    val e = intercept[IllegalArgumentException] {
      XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)),
        coords = Map("t" -> NdArray.fromDoubles(DType.F64, Array(10),
          Array.tabulate(10)(i => if (i == 4) Double.NaN else i % 3.0))),
        chunks = Map("t" -> 4)).groupbyCoordMean("t")
    }
    assert(e.getMessage.contains("NaN"))
  }

  test("timeField derives xarray's virtual calendar accessors") {
    def ns(iso: String) = java.time.Instant.parse(iso)
      .getEpochSecond * 1000000000L
    // Wed Jan 1 2020, Sat Feb 29 2020 (leap), Mon Jun 15 2020 18:45,
    // Tue Dec 1 2020
    val coord = NdArray.fromLongs(DType.TimeNs, Array(4), Array(
      ns("2020-01-01T00:00:00Z"), ns("2020-02-29T12:00:00Z"),
      ns("2020-06-15T18:45:00Z"), ns("2020-12-01T06:00:00Z")))
    val vals = NdArray.fromDoubles(DType.F64, Array(4, 1),
      Array(1.0, 2, 3, 4))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
      chunks = Map("t" -> 2))
    def f(field: String): Seq[Long] =
      ds.timeField("t", field).template.coords("t").toLongs.toSeq
    assert(f("year") == Seq(2020L, 2020, 2020, 2020))
    assert(f("month") == Seq(1L, 2, 6, 12))
    assert(f("day") == Seq(1L, 29, 15, 1))
    assert(f("hour") == Seq(0L, 12, 18, 6))
    assert(f("dayofyear") == Seq(1L, 60, 167, 336))
    assert(f("dayofweek") == Seq(2L, 5, 0, 1)) // Monday = 0
    assert(f("season") == Seq(0L, 0, 2, 0))    // DJF, DJF, JJA, DJF
    // metadata only: chunks and data untouched, composition works
    val m = ds.timeField("t", "season").groupbyCoordMean("t")
      .collectConsolidated()._2.vars("v").arr
    assert(m.getDouble(0) == (1.0 + 2 + 4) / 3 && m.getDouble(1) == 3.0)
  }

  test("non-Gregorian CF calendars: raw-count coords + calendar kernels") {
    import java.nio.file.Files
    // Hand-built stock-CMIP-shaped stores: int64 "days since
    // 2000-01-01" with calendar noleap / 360_day (our writer never
    // produces these; xarray reads them via cftime).
    def mkStore(cal: String, n: Int): String = {
      val p = Files.createTempDirectory(s"zarr_cal_$cal").toString + "/store"
      val root = java.nio.file.Paths.get(p)
      Files.createDirectories(root)
      Files.write(root.resolve(".zgroup"),
        """{"zarr_format":2}""".getBytes("UTF-8"))
      val tdir = root.resolve("t")
      Files.createDirectories(tdir)
      Files.write(tdir.resolve(".zarray"),
        (s"""{"chunks":[$n],"compressor":null,"dtype":"<i8",""" +
          s""""fill_value":null,"filters":null,"order":"C",""" +
          s""""shape":[$n],"zarr_format":2}""").getBytes("UTF-8"))
      Files.write(tdir.resolve(".zattrs"),
        (s"""{"_ARRAY_DIMENSIONS":["t"],""" +
          s""""units":"days since 2000-01-01","calendar":"$cal"}""")
          .getBytes("UTF-8"))
      val tb = java.nio.ByteBuffer.allocate(n * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach(i => tb.putLong(i.toLong))
      Files.write(tdir.resolve("0"), tb.array())
      val vdir = root.resolve("v")
      Files.createDirectories(vdir)
      Files.write(vdir.resolve(".zarray"),
        (s"""{"chunks":[64],"compressor":null,"dtype":"<f8",""" +
          s""""fill_value":"NaN","filters":null,"order":"C",""" +
          s""""shape":[$n],"zarr_format":2}""").getBytes("UTF-8"))
      Files.write(vdir.resolve(".zattrs"),
        """{"_ARRAY_DIMENSIONS":["t"]}""".getBytes("UTF-8"))
      (0 until (n + 63) / 64).foreach { c =>
        val bb = java.nio.ByteBuffer.allocate(64 * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until 64).foreach(j => bb.putDouble((c * 64 + j).toDouble))
        Files.write(vdir.resolve(s"$c"), bb.array())
      }
      p
    }
    // noleap: 2 years of daily data; day index 59 is MARCH 1 (no Feb 29
    // — in real-2000 Gregorian it would be Feb 29), day 365 restarts
    // year 2001
    val pn = mkStore("noleap", 730)
    val dsn = XbeamDataset.fromZarr(spark, pn)
    val mn = graft.sources.Zarr.openStore(pn).coordVars("t")
    assert(mn.cfCalTime.exists(_.calendar == "noleap"))
    assert(dsn.template.coords("t").dtype == DType.I64) // raw counts
    def fld(ds: XbeamDataset, field: String): Seq[Long] =
      ds.timeField("t", field).template.coords("t").toLongs.toSeq
    val monthsN = fld(dsn, "month")
    assert(monthsN(58) == 2 && monthsN(59) == 3, "noleap has no Feb 29")
    assert(fld(dsn, "year").take(365).forall(_ == 2000L) &&
      fld(dsn, "year")(365) == 2001L)
    assert(fld(dsn, "dayofyear")(365) == 1L)
    assert(fld(dsn, "day")(58) == 28L && fld(dsn, "hour").forall(_ == 0L))
    assert(fld(dsn, "season")(59) == 1L) // Mar -> MAM
    // 360_day: day index 59 is FEBRUARY 30 (a legal 360_day date);
    // every month is exactly 30 days and the year is 360
    val p3 = mkStore("360_day", 720)
    val ds3 = XbeamDataset.fromZarr(spark, p3)
    val months3 = fld(ds3, "month")
    assert(months3(59) == 2 && fld(ds3, "day")(59) == 30L,
      "360_day Feb has 30 days")
    assert(months3(60) == 3)
    assert(fld(ds3, "year")(360) == 2001L)
    // monthly resampleMean on 360_day: exact 30-day buckets; the output
    // coordinate is the month starts in RAW COUNT space and the
    // calendar tag survives for further derivation
    val rmM = ds3.resampleMean("t", "month")
    assert(rmM.template.dimSizes("t") == 24L)
    assert(rmM.template.coords("t").toLongs.take(3).toSeq == Seq(0L, 30L, 60L))
    val (_, rc) = rmM.collectConsolidated()
    // mean of v over days [30k, 30k+29] = 30k + 14.5
    assert(rc.vars("v").arr.getDouble(1) == 44.5)
    assert(rc.vars("v").arr.getDouble(23) == 23 * 30 + 14.5)
    assert(fld(rmM, "month") == (1L to 12L) ++ (1L to 12L))
    // timeField composition: noleap monthly climatology groups Feb with
    // 28-day months
    val clim = dsn.timeField("t", "month").groupbyCoordMean("t")
    assert(clim.template.dimSizes("t") == 12L)
    // group means: month 1 = mean(days 0..30 and 365..395)
    val cm = clim.collectConsolidated()._2.vars("v").arr
    val jan = ((0 to 30) ++ (365 to 395)).map(_.toDouble)
    assert(cm.getDouble(0) == jan.sum / jan.size)
    // dayofweek / week have no honest answer on fixed-year calendars
    val ew = intercept[IllegalArgumentException](dsn.timeField("t", "dayofweek"))
    assert(ew.getMessage.contains("not defined"))
    val er = intercept[IllegalArgumentException](dsn.resampleMean("t", "week"))
    assert(er.getMessage.contains("not defined"))
    // a calendar-tagged coord refuses the Gregorian datetime path loudly
    // rather than silently misreading counts as epoch-ns
    val eg = intercept[IllegalArgumentException](
      dsn.assignCoords("t", dsn.template.coords("t")).timeField("t", "month"))
    assert(eg.getMessage.contains("datetime64"))
    // a stored iNaT sentinel in the counts has no NaT in count space ->
    // loud, never a silent garbage date
    val tagN = graft.sources.Zarr.openStore(pn).coordVars("t").cfCalTime.get
    val en = intercept[IllegalArgumentException](
      XbeamDataset.calCoordInstants(
        NdArray.fromLongs(DType.I64, Array(2), Array(0L, Long.MinValue)),
        tagN))
    assert(en.getMessage.contains("iNaT"))
    // sub-day units with a DISTANT reference epoch must not overflow:
    // 'hours since 0001-01-01' with year-2000-era counts is a real CMIP
    // spelling (~1.75e7 hours; a single ns product would overflow)
    val tagH = tagN.copy(
      epoch = graft.sources.CfCalendar.CalInstant(365L, 0L), // year 1
      unitNs = 3600L * 1000000000L)
    val insts = XbeamDataset.calCoordInstants(
      NdArray.fromLongs(DType.I64, Array(2),
        Array(1999L * 365 * 24, 1999L * 365 * 24 + 30)), tagH)
    assert(graft.sources.CfCalendar.ymd("noleap", insts(0)) == ((2000L, 1, 1)))
    assert(graft.sources.CfCalendar.fieldOf("noleap", insts(1), "hour") == 6L)
    // ...and the count round-trips exactly through the period start
    // (insts(1) is 30 h past Jan 1 -> its day start is Jan 2, +24 h)
    assert(XbeamDataset.calInstantToCount(
      graft.sources.CfCalendar.periodStart("noleap", "day", insts(1)),
      tagH) == 1999L * 365 * 24 + 24)
    // 'months since' on 360_day (the one calendar cftime allows it on):
    // 30-day units, month 13 = Feb of the next year
    val tagM = graft.sources.Zarr.CfCalTime("360_day",
      graft.sources.CfCalendar.CalInstant(2000L * 360, 0L),
      30L * 86400L * 1000000000L)
    val instsM = XbeamDataset.calCoordInstants(
      NdArray.fromLongs(DType.I64, Array(3), Array(0L, 1L, 13L)), tagM)
    assert(instsM.map(t =>
      graft.sources.CfCalendar.ymd("360_day", t)).toSeq ==
      Seq((2000L, 1, 1), (2000L, 2, 1), (2001L, 2, 1)))
    assert(XbeamDataset.calInstantToCount(instsM(2), tagM) == 13L)
  }

  test("groupbyCoordAnomaly subtracts each position's group mean") {
    val groups = Array(0L, 1, 0, 2, 1, 0, 2, 1, 0, 1)
    val vals = NdArray.fromDoubles(DType.F64, Array(10, 2),
      Array.tabulate(20)(_.toDouble))
    def gmean(g: Long, x: Int): Double = {
      val m = (0 until 10).filter(groups(_) == g)
        .map(t => vals.getDouble(t * 2 + x))
      m.sum / m.length
    }
    for (ch <- Seq(3, 4, 10)) {
      val ds = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)),
        coords = Map("t" -> NdArray.fromLongs(DType.I64, Array(10), groups)),
        chunks = Map("t" -> ch))
      val an = ds.groupbyCoordAnomaly("t")
      // dim, chunking, and coordinate survive
      assert(an.template.dimSizes("t") == 10)
      assert(an.template.coords("t").toLongs.toSeq == groups.toSeq)
      val got = an.collectConsolidated()._2.vars("v").arr
      for (t <- 0 until 10; x <- 0 until 2)
        assert(got.getDouble(t * 2 + x) ==
          vals.getDouble(t * 2 + x) - gmean(groups(t), x), s"ch=$ch t=$t")
      // each group's anomalies sum to ~0 (exact 0 here: dyadic means)
      for (g <- 0 until 3; x <- 0 until 2) {
        val sum = (0 until 10).filter(groups(_) == g)
          .map(t => got.getDouble(t * 2 + x)).sum
        assert(math.abs(sum) < 1e-9)
      }
    }
  }

  test("groupbyCoordMedian/Quantile: exact order stats per group") {
    // group 0 holds rows {0,2,5,8}, group 1 {1,4,7,9}, group 2 {3,6}
    val groups = Array(0L, 1, 0, 2, 1, 0, 2, 1, 0, 1)
    val vals = NdArray.fromDoubles(DType.F64, Array(10, 2),
      Array.tabulate(20)(_.toDouble))
    def byGroup(g: Long, x: Int): Seq[Double] =
      (0 until 10).filter(groups(_) == g).map(t => vals.getDouble(t * 2 + x))
    def linQuantile(vs: Seq[Double], q: Double): Double = {
      val s = vs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      if (lo == s.length - 1) s(lo)
      else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }
    for (ch <- Seq(3, 4, 10)) {
      val ds = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)),
        coords = Map("t" -> NdArray.fromLongs(DType.I64, Array(10), groups)),
        chunks = Map("t" -> ch))
      val med = ds.groupbyCoordMedian("t").collectConsolidated()._2.vars("v").arr
      val q25 = ds.groupbyCoordQuantile("t", 0.25)
        .collectConsolidated()._2.vars("v").arr
      for (g <- 0 until 3; x <- 0 until 2) {
        assert(med.getDouble(g * 2 + x) == linQuantile(byGroup(g, x), 0.5),
          s"median ch=$ch g=$g x=$x")
        assert(q25.getDouble(g * 2 + x) == linQuantile(byGroup(g, x), 0.25),
          s"q25 ch=$ch g=$g x=$x")
      }
    }
  }

  test("thin takes every Nth position, dtype- and coord-preserving") {
    val vals = NdArray.fromDoubles(DType.F64, Array(11, 2),
      Array.tabulate(22)(_.toDouble))
    val ids = NdArray.fromLongs(DType.I64, Array(11),
      Array.tabulate(11)(i => 100L + i))
    val coord = NdArray.fromDoubles(DType.F64, Array(11),
      Array.tabulate(11)(i => i * 10.0))
    // stride 4 divides chunk 8 (aligned, shuffle-free) and not chunk 3
    for (ch <- Seq(3, 8, 11)) {
      val ds = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals), "id" -> (Seq("t"), ids)),
        coords = Map("t" -> coord), chunks = Map("t" -> ch))
      val th = ds.thin("t", 4)
      assert(th.template.dimSizes("t") == 3) // positions 0, 4, 8
      assert(th.template.coords("t").toDoubles.toSeq == Seq(0.0, 40.0, 80.0))
      val got = th.collectConsolidated()._2
      assert(got.vars("id").arr.dtype == DType.I64) // dtype preserved
      assert(got.vars("id").arr.toLongs.toSeq == Seq(100L, 104L, 108L))
      for (k <- 0 until 3; x <- 0 until 2)
        assert(got.vars("v").arr.getDouble(k * 2 + x) ==
          vals.getDouble(k * 4 * 2 + x), s"ch=$ch k=$k")
    }
    // stride 1 is the identity plan
    val ds1 = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 4))
    assert(ds1.thin("t", 1) eq ds1)
  }

  test("reindex on long/datetime labels; sortby on integer coords") {
    val base = java.time.Instant.parse("2020-01-01T00:00:00Z")
      .getEpochSecond * 1000000000L
    val coord = NdArray.fromLongs(DType.TimeNs, Array(4),
      Array(0L, 10L, 14L, 20L).map(base + _))
    val vals = NdArray.fromDoubles(DType.F64, Array(4, 2),
      Array(0.0, 100, 10, 110, 14, 114, 20, 120))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
      chunks = Map("t" -> 2))
    // exact: hits gather, misses fill NaN; coord dtype survives
    val ex = ds.reindex("t", Array(10L, 11L, 20L).map(base + _))
    assert(ex.template.coords("t").dtype == DType.TimeNs)
    val exArr = ex.collectConsolidated()._2.vars("v").arr
    assert(exArr.getDouble(0) == 10.0 && exArr.getDouble(2).isNaN &&
      exArr.getDouble(4) == 20.0)
    // nearest with an exact-ns tolerance window
    val ne = ds.reindex("t", Array(11L, 17L).map(base + _), "nearest", 2L)
      .collectConsolidated()._2.vars("v").arr
    assert(ne.getDouble(0) == 10.0) // 11 -> 10 (distance 1 <= 2)
    assert(ne.getDouble(2).isNaN)   // 17 -> nearest 20 at distance 3 > 2
    // sortby on an integer coordinate (descending)
    val ic = NdArray.fromLongs(DType.I64, Array(3), Array(30L, 10L, 20L))
    val vi = NdArray.fromDoubles(DType.F64, Array(3, 2),
      Array(1.0, 2, 3, 4, 5, 6))
    val sorted = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vi)), coords = Map("t" -> ic),
      chunks = Map("t" -> 2)).sortby("t", descending = true)
    assert(sorted.template.coords("t").toLongs.toSeq == Seq(30L, 20L, 10L))
    assert(sorted.collectConsolidated()._2.vars("v").arr.toDoubles.toSeq ==
      Seq(1.0, 2, 5, 6, 3, 4))
  }

  test("dropSel drops labels via the reindex gather; rollingNd composes") {
    val vals = NdArray.fromDoubles(DType.F64, Array(6, 4),
      Array.tabulate(24)(_.toDouble))
    val coord = NdArray.fromDoubles(DType.F64, Array(6),
      Array.tabulate(6)(_.toDouble))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
      chunks = Map("t" -> 3))
    val kept = ds.dropSel("t", Array(1.0, 4.0))
    assert(kept.template.dimSizes("t") == 4)
    assert(kept.template.coords("t").toDoubles.toSeq == Seq(0.0, 2, 3, 5))
    val got = kept.collectConsolidated()._2.vars("v").arr
    for ((srcT, outT) <- Seq(0, 2, 3, 5).zipWithIndex; x <- 0 until 4)
      assert(got.getDouble(outT * 4 + x) == vals.getDouble(srcT * 4 + x))
    // unknown labels and total drops are rejected
    assertThrows[IllegalArgumentException](ds.dropSel("t", Array(9.0)))
    assertThrows[IllegalArgumentException](
      ds.dropSel("t", Array(0.0, 1, 2, 3, 4, 5)))
    // rollingNd: 2x2 rectangle sum == hand sum over the truncated window
    val r = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 2))
      .rollingNd(Map("t" -> 2, "x" -> 2), "sum")
      .collectConsolidated()._2.vars("v").arr
    for (t <- 0 until 6; x <- 0 until 4) {
      val want = (math.max(0, t - 1) to t).flatMap(tt =>
        (math.max(0, x - 1) to x).map(xx => vals.getDouble(tt * 4 + xx))).sum
      assert(r.getDouble(t * 4 + x) == want, s"t=$t x=$x")
    }
    // mean/var/std via moment composition: rectangle moments against a
    // naive nested loop, with a planted NaN exercising skipna counting
    val nvals = NdArray.fromDoubles(DType.F64, Array(6, 4),
      Array.tabulate(24)(_.toDouble))
    nvals.setDouble(2 * 4 + 1, Double.NaN)
    def naive(t: Int, x: Int): Seq[Double] =
      (math.max(0, t - 2) to t).flatMap(tt =>
        (math.max(0, x - 1) to x).map(xx => nvals.getDouble(tt * 4 + xx)))
        .filterNot(_.isNaN)
    for (ch <- Seq(2, 6); opN <- Seq("mean", "var", "std")) {
      val got = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), nvals)), chunks = Map("t" -> ch))
        .rollingNd(Map("t" -> 3, "x" -> 2), opN, minPeriods = 2)
        .collectConsolidated()._2.vars("v").arr
      for (t <- 0 until 6; x <- 0 until 4) {
        val w = naive(t, x)
        val want =
          if (w.length < 2) Double.NaN
          else {
            val m = w.sum / w.length
            opN match {
              case "mean" => m
              case "var" => w.map(v => v * v).sum / w.length - m * m
              case "std" =>
                math.sqrt(w.map(v => v * v).sum / w.length - m * m)
            }
          }
        val g = got.getDouble(t * 4 + x)
        assert((g.isNaN && want.isNaN) || math.abs(g - want) < 1e-12,
          s"op=$opN ch=$ch t=$t x=$x: $g vs $want")
      }
    }
    // order statistics still reject loudly
    val e = intercept[IllegalArgumentException](
      ds.rollingNd(Map("t" -> 2, "x" -> 2), "median"))
    assert(e.getMessage.contains("separable"))
    // sum with minPeriods>1 rides the count plane (xarray min_count
    // semantics: NaN-skipping sum, NaN below minPeriods valid cells) —
    // the chained fast path would have silently ignored minPeriods
    for (ch <- Seq(2, 6)) {
      val got = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), nvals)), chunks = Map("t" -> ch))
        .rollingNd(Map("t" -> 3, "x" -> 2), "sum", minPeriods = 5)
        .collectConsolidated()._2.vars("v").arr
      for (t <- 0 until 6; x <- 0 until 4) {
        val w = naive(t, x)
        val want = if (w.length < 5) Double.NaN else w.sum
        val g = got.getDouble(t * 4 + x)
        assert((g.isNaN && want.isNaN) || math.abs(g - want) < 1e-12,
          s"sum minP ch=$ch t=$t x=$x: $g vs $want")
      }
    }
    // extremes reject minPeriods>1 loudly (no valid-count decomposition)
    val e2 = intercept[IllegalArgumentException](
      ds.rollingNd(Map("t" -> 2, "x" -> 2), "min", minPeriods = 2))
    assert(e2.getMessage.contains("minPeriods"))
    // the __r moment-plane prefix is reserved with a loud guard
    val clash = XbeamDataset.fromLocal(spark,
      Map("__r_user" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 2))
    val e3 = intercept[IllegalArgumentException](
      clash.rollingNd(Map("t" -> 2, "x" -> 2), "mean"))
    assert(e3.getMessage.contains("__r"))
  }

  test("interp on datetime coords brackets in exact long epoch-ns") {
    // 2020 epoch base (~1.58e18 ns > 2^53): a float64 detour would
    // round the coords and mis-bracket; long-space search cannot
    val base = java.time.Instant.parse("2020-01-01T00:00:00Z")
      .getEpochSecond * 1000000000L
    val coord = NdArray.fromLongs(DType.TimeNs, Array(4),
      Array(0L, 10L, 14L, 20L).map(base + _))
    val vals = NdArray.fromDoubles(DType.F64, Array(4, 2),
      Array(0.0, 100, 10, 110, 14, 114, 20, 120))
    for (ch <- Seq(2, 4)) {
      val ds = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
        chunks = Map("t" -> ch))
      val li = ds.interpLinear("t", Array(5L, 11L, 14L).map(base + _))
      assert(li.template.coords("t").dtype == DType.TimeNs)
      assert(li.template.coords("t").toLongs.toSeq ==
        Seq(5L, 11L, 14L).map(base + _))
      val got = li.collectConsolidated()._2.vars("v").arr
      assert(got.getDouble(0) == 5.0 && got.getDouble(1) == 105.0) // w=.5
      assert(got.getDouble(2) == 11.0 && got.getDouble(3) == 111.0) // w=.25
      assert(got.getDouble(4) == 14.0 && got.getDouble(5) == 114.0) // hit
      // nearest: 11 snaps down to 10; the exact midpoint 12 ties LOWER
      val ne = ds.interpNearest("t", Array(11L, 12L, 13L).map(base + _))
        .collectConsolidated()._2.vars("v").arr
      assert(ne.getDouble(0) == 10.0 && ne.getDouble(2) == 10.0 &&
        ne.getDouble(4) == 14.0)
    }
    // out-of-range and non-datetime coords are rejected loudly
    assertThrows[IllegalArgumentException] {
      XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
        chunks = Map("t" -> 2)).interpLinear("t", Array(base - 1L))
    }
  }

  test("coarsen boundary=pad NaN-extends the ragged tail window") {
    val vals = NdArray.fromDoubles(DType.F64, Array(10, 2),
      Array.tabulate(20)(_.toDouble))
    for (ch <- Seq(4, 8)) { // factor 4 divides both chunk sizes
      val ds = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
      val c = ds.coarsen(Map("t" -> 4), "mean", boundary = "pad")
      assert(c.template.dimSizes("t") == 3) // ceil(10/4)
      val got = c.collectConsolidated()._2.vars("v").arr
      for (w <- 0 until 3; x <- 0 until 2) {
        val members = (w * 4 until math.min(w * 4 + 4, 10))
          .map(t => vals.getDouble(t * 2 + x))
        assert(got.getDouble(w * 2 + x) == members.sum / members.length,
          s"ch=$ch w=$w x=$x")
      }
    }
    // skipna=false would make every tail window NaN: rejected loudly
    val e = intercept[IllegalArgumentException] {
      XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 4))
        .coarsen(Map("t" -> 4), "mean", skipna = false, boundary = "pad")
    }
    assert(e.getMessage.contains("skipna"))
  }

  test("pad symmetric mirrors including the boundary, any chunking") {
    val vals = NdArray.fromDoubles(DType.F64, Array(10, 2),
      Array.tabulate(20)(_.toDouble))
    def src(t: Int, x: Int) = vals.getDouble(t * 2 + x)
    for (ch <- Seq(4, 5, 10); (b, a) <- Seq((3, 2), (2, 0), (0, 3))
         // widths must fit the edge chunks (ch=4 leaves a 2-wide tail)
         if a <= 10 - (10 - 1) / ch * ch) {
      // numpy symmetric: [a b c d] (2,2) -> [b a | a b c d | d c]
      val sy = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> ch))
        .pad("t", b, a, mode = "symmetric")
        .collectConsolidated()._2.vars("v").arr
      for (t <- 0 until (10 + b + a); x <- 0 until 2) {
        val rel = t - b
        val want = src(
          if (rel < 0) -rel - 1 else if (rel > 9) 19 - rel else rel, x)
        assert(sy.getDouble(t * 2 + x) == want, s"symmetric ch=$ch ($b,$a) t=$t")
      }
    }
    // wider than the edge chunk fails LOUDLY at plan time
    val e = intercept[IllegalArgumentException] {
      XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 3))
        .pad("t", 4, 0, mode = "symmetric")
    }
    assert(e.getMessage.contains("symmetric"))
  }

  test("approxQuantile: merge-associative across chunkings; within (max-min)/bins of exact") {
    // identical results under 3 different chunk partitionings — the
    // histogram merge is pointwise integer addition, so the sketch is
    // bit-deterministic whatever the partial grouping (the
    // merge-associativity contract a t-digest cannot give)
    def res(chunk: Int): NdArray =
      era5ds(Map("time" -> chunk)).approxQuantile(0.5, Set("time"), bins = 32)
        .collectConsolidated()._2.vars("temperature").arr
    val r4 = res(4)
    assert(r4.sameAs(res(3)) && r4.sameAs(res(12)),
      "sketch must be bit-identical under any chunking")
    // per-cell error bound vs the exact quantile: (max - min) / bins
    val exact = era5ds().quantile(0.5, Set("time"))
      .collectConsolidated()._2.vars("temperature").arr
    val lo = era5ds().min(Set("time"))
      .collectConsolidated()._2.vars("temperature").arr
    val hi = era5ds().max(Set("time"))
      .collectConsolidated()._2.vars("temperature").arr
    var i = 0L
    while (i < r4.size) {
      val bound = (hi.getDouble(i) - lo.getDouble(i)) / 32
      assert(math.abs(r4.getDouble(i) - exact.getDouble(i)) <= bound + 1e-12,
        s"cell $i: approx ${r4.getDouble(i)} vs exact ${exact.getDouble(i)} " +
          s"exceeds bound $bound")
      i += 1
    }
  }

  test("dropDuplicates: keep first/last in original order; NaN is one label") {
    import graft.Fixtures.arange
    def ds(coordVals: Array[Double]) = {
      val base = XbeamDataset.fromLocal(spark, Map(
        "v" -> (Seq("t"), arange(DType.F64, coordVals.length))),
        chunks = Map("t" -> 3))
      XbeamDataset.fromPairs(spark,
        base.template.copy(coords = Map("t" ->
          NdArray.fromDoubles(DType.F64, Array(coordVals.length), coordVals))),
        base.chunkSizes, base.chunkDataset, validate = false)
    }
    // labels: 5, 2, 5, NaN, 2, NaN, 9  (v = 0..6)
    val labels = Array(5.0, 2.0, 5.0, Double.NaN, 2.0, Double.NaN, 9.0)
    val first = ds(labels).dropDuplicates("t")
      .collectConsolidated()._2.vars("v").arr.toDoubles
    assert(first.toSeq == Seq(0.0, 1.0, 3.0, 6.0)) // positions 0,1,3,6
    val last = ds(labels).dropDuplicates("t", keep = "last")
      .collectConsolidated()._2.vars("v").arr.toDoubles
    assert(last.toSeq == Seq(2.0, 4.0, 5.0, 6.0)) // positions 2,4,5,6
    // coordinate carries the de-duplicated labels
    val outCoord = ds(labels).dropDuplicates("t").template.coords("t").toDoubles
    assert(outCoord(0) == 5.0 && outCoord(1) == 2.0 &&
      outCoord(2).isNaN && outCoord(3) == 9.0)
    // rejects: no coordinate / bad keep
    val e1 = intercept[IllegalArgumentException] {
      XbeamDataset.fromLocal(spark, Map(
        "v" -> (Seq("t"), arange(DType.F64, 4))),
        chunks = Map("t" -> 2)).dropDuplicates("t")
    }
    assert(e1.getMessage.contains("coordinate"))
    val e2 = intercept[IllegalArgumentException](
      ds(labels).dropDuplicates("t", keep = "any"))
    assert(e2.getMessage.contains("keep"))
  }

  test("whereDrop trims all-NaN cross-sections after masking") {
    import graft.Fixtures.arange
    // v (t=4, x=3) = 0..11; mask v >= 3 kills row t=0 entirely and
    // nothing else fully — whereDrop trims t to 3 rows, x stays 3
    // (every column keeps at least one valid cell)
    val ds = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t", "x"), arange(DType.F64, 4, 3))),
      chunks = Map("t" -> 2))
    val out = ds.whereDrop(_ >= 3.0)
    assert(out.template.dimSizes("t") == 3L &&
      out.template.dimSizes("x") == 3L)
    val got = out.collectConsolidated()._2.vars("v").arr.toDoubles
    assert(got.length == 9)
    assert(got.toSeq == (3 until 12).map(_.toDouble))
    // restricting the trimmed dims: x-only trim leaves t intact
    val xOnly = ds.whereDrop(_ >= 3.0, Seq("x"))
    assert(xOnly.template.dimSizes("t") == 4L &&
      xOnly.template.dimSizes("x") == 3L)
    assert(xOnly.collectConsolidated()._2.vars("v").arr.getDouble(0).isNaN)
  }

  test("sortby: duplicate labels stable, NaN last both ways; like-aligns") {
    import graft.Fixtures.arange
    def mk(labels: Array[Double]) = {
      val base = XbeamDataset.fromLocal(spark, Map(
        "v" -> (Seq("t"), arange(DType.I64, labels.length))),
        chunks = Map("t" -> 3))
      XbeamDataset.fromPairs(spark,
        base.template.copy(coords = Map("t" -> NdArray.fromDoubles(
          DType.F64, Array(labels.length), labels))),
        base.chunkSizes, base.chunkDataset, validate = false)
    }
    // duplicates: 5 appears at positions 0 and 2 — STABLE sort keeps
    // source order within the tie, and the int var keeps its dtype
    val labels = Array(5.0, 2.0, 5.0, Double.NaN, 1.0)
    val asc = mk(labels).sortby("t")
    assert(asc.template.vars("v").dtype == DType.I64)
    assert(asc.collectConsolidated()._2.vars("v").arr.toLongs.toSeq ==
      Seq(4L, 1L, 0L, 2L, 3L)) // labels 1, 2, 5, 5, NaN
    val desc = mk(labels).sortby("t", descending = true)
    assert(desc.collectConsolidated()._2.vars("v").arr.toLongs.toSeq ==
      Seq(0L, 2L, 1L, 4L, 3L)) // labels 5, 5, 2, 1, NaN — ties stable
    // reindexLike / interpLike align onto the OTHER dataset's coord;
    // a duplicate-label SOURCE rejects (ambiguous label gather)
    val target = mk(Array(2.0, 5.0, 9.0))
    val dupErr = intercept[IllegalArgumentException](
      mk(labels.take(3)).reindexLike(target, "t"))
    assert(dupErr.getMessage.contains("distinct"))
    val src = mk(Array(1.0, 2.0, 5.0))
    val rl2 = src.reindexLike(target, "t")
    assert(rl2.template.coords("t").toDoubles.toSeq == Seq(2.0, 5.0, 9.0))
    val got = rl2.collectConsolidated()._2.vars("v").arr
    assert(got.getDouble(0) == 1.0 && got.getDouble(1) == 2.0 &&
      got.getDouble(2).isNaN)
    // interp is interpolation-only: use an in-range target
    val il = src.interpLike(mk(Array(1.5, 3.5)), "t")
    assert(il.template.coords("t").toDoubles.toSeq == Seq(1.5, 3.5))
    val iv = il.collectConsolidated()._2.vars("v").arr
    assert(iv.getDouble(0) == 0.5 && iv.getDouble(1) == 1.5)
  }

  test("dropna: any/all/thresh keep sets; dtype and coord subset; chunk-proof") {
    import graft.Fixtures.arange
    // v (t=8, x=3): NaN planted at t=1 (one cell), t=4 (whole row);
    // iv int (never NaN). how=any drops t 1 and 4; how=all drops t 4;
    // thresh=5 needs >=5 of the 6 values valid (3 from v + 3 from iv)
    def ds(ch: Int) = {
      val v = arange(DType.F64, 8, 3)
      v.setDouble(1 * 3 + 2, Double.NaN)
      (0 until 3).foreach(x => v.setDouble(4 * 3 + x, Double.NaN))
      val base = XbeamDataset.fromLocal(spark, Map(
        "v" -> (Seq("t", "x"), v),
        "iv" -> (Seq("t", "x"), arange(DType.I64, 8, 3))),
        chunks = Map("t" -> ch, "x" -> 3))
      XbeamDataset.fromPairs(spark,
        base.template.copy(coords = Map("t" -> NdArray.fromLongs(
          DType.I64, Array(8), Array.tabulate(8)(i => 100L + i)))),
        base.chunkSizes, base.chunkDataset, validate = false)
    }
    for (ch <- Seq(3, 8)) {
      val any = ds(ch).dropna("t")
      assert(any.template.dimSizes("t") == 6L, s"chunk=$ch")
      assert(any.template.coords("t").toLongs.toSeq ==
        Seq(100L, 102L, 103L, 105L, 106L, 107L), s"chunk=$ch")
      assert(any.template.vars("iv").dtype == DType.I64, s"chunk=$ch")
      val ivs = any.collectConsolidated()._2.vars("iv").arr.toLongs
      assert(ivs.take(3).toSeq == Seq(0L, 1L, 2L) &&
        ivs.slice(3, 6).toSeq == Seq(6L, 7L, 8L), s"chunk=$ch")
      val all = ds(ch).dropna("t", how = "all")
      // iv is never NaN, so no position is ALL-NaN: nothing drops
      assert(all.template.dimSizes("t") == 8L, s"chunk=$ch")
      // thresh: t=1 has 5 valid (drop needs < 5), t=4 has 3
      val th = ds(ch).dropna("t", thresh = Some(5))
      assert(th.template.dimSizes("t") == 7L, s"chunk=$ch")
    }
    val e = intercept[IllegalArgumentException](ds(4).dropna("t", how = "most"))
    assert(e.getMessage.contains("how"))
    // driver-residency guard: the per-position validity array obeys
    // spark.graft.coord.maxLen, same as set_index
    spark.conf.set("spark.graft.coord.maxLen", "4")
    try {
      val g = intercept[IllegalArgumentException](ds(4).dropna("t"))
      assert(g.getMessage.contains("coord.maxLen") &&
        g.getMessage.contains("dropna"), g.getMessage)
    } finally spark.conf.unset("spark.graft.coord.maxLen")
  }

  test("coarsenConstruct tiles windows: exact/trim/pad, auto-rechunk") {
    import graft.Fixtures.arange
    val vals = arange(DType.F64, 7, 2) // v[t, x] = t*2 + x
    def mk(n: Int, ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), arange(DType.F64, n, 2))),
      chunks = Map("t" -> ch))
    // trim: 7 → (2, 3), tail t=6 dropped; chunk 2 forces the
    // window-aligned rechunk first
    for (ch <- Seq(2, 3, 7)) {
      val out = mk(7, ch).coarsenConstruct("t", 3, "tw", "ti", "trim")
      assert(out.template.dimSizes("tw") == 2L &&
        out.template.dimSizes("ti") == 3L, s"ch=$ch")
      assert(out.template.vars("v").dims == Seq("tw", "ti", "x"), s"ch=$ch")
      val got = out.collectConsolidated()._2.vars("v").arr
      for (o <- 0 until 2; i <- 0 until 3; x <- 0 until 2)
        assert(got.getDouble((o * 3 + i) * 2L + x) ==
          vals.getDouble((o * 3 + i) * 2L + x), s"ch=$ch o=$o i=$i x=$x")
    }
    // pad: 7 → (3, 3) with a NaN tail of 2
    val padded = mk(7, 7).coarsenConstruct("t", 3, "tw", "ti", "pad")
    assert(padded.template.dimSizes("tw") == 3L)
    val gp = padded.collectConsolidated()._2.vars("v").arr
    assert(gp.getDouble(2 * 3 * 2L) == 12.0) // (2,0,0) = t6 x0
    assert(gp.getDouble((2 * 3 + 1) * 2L).isNaN &&
      gp.getDouble((2 * 3 + 2) * 2L + 1).isNaN)
    // exact divides cleanly, rejects a ragged extent
    assert(mk(6, 3).coarsenConstruct("t", 3, "tw", "ti")
      .template.dimSizes("tw") == 2L)
    val e = intercept[IllegalArgumentException](
      mk(7, 7).coarsenConstruct("t", 3, "tw", "ti"))
    assert(e.getMessage.contains("trim"), e.getMessage)
  }

  test("curvefitExp recovers planted exponentials at any chunking; NaN rules") {
    import graft.Fixtures.arange
    // 4 lanes: growth, decay, constant (b=0), and an underdetermined
    // lane (one valid point); lane 1 also carries NaN holes (skipna
    // must fit through them, 9 valid points remain)
    val as = Array(2.0, 0.5, 4.0, 3.0)
    val bs = Array(0.1, -0.2, 0.0, 0.05)
    val n = 12
    def mkVals(): NdArray = {
      val v = NdArray.zeros(DType.F64, Array(n, 4))
      for (t <- 0 until n; x <- 0 until 4)
        v.setDouble(t * 4L + x, as(x) * math.exp(bs(x) * t))
      v.setDouble(2 * 4L + 1, Double.NaN)
      v.setDouble(7 * 4L + 1, Double.NaN)
      v.setDouble(9 * 4L + 1, Double.NaN)
      for (t <- 1 until n) v.setDouble(t * 4L + 3, Double.NaN)
      v
    }
    for (ch <- Seq(3, 5, 12)) {
      val ds = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), mkVals())), chunks = Map("t" -> ch))
      val out = ds.curvefitExp("t")
      assert(out.template.vars.keySet == Set("v_cf_a", "v_cf_b"))
      assert(out.template.vars("v_cf_a").dims == Seq("x"))
      val (_, c) = out.collectConsolidated()
      val ga = c.vars("v_cf_a").arr.toDoubles
      val gb = c.vars("v_cf_b").arr.toDoubles
      for (x <- 0 until 3) {
        assert(math.abs(ga(x) - as(x)) < 1e-8, s"ch=$ch lane $x a=${ga(x)}")
        assert(math.abs(gb(x) - bs(x)) < 1e-8, s"ch=$ch lane $x b=${gb(x)}")
      }
      // lane 3 has ONE valid point: underdetermined -> NaN both params
      assert(ga(3).isNaN && gb(3).isNaN, s"ch=$ch ${ga(3)}/${gb(3)}")
      // chunking must not change a bit (deterministic cell-local solve)
      val ref = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), mkVals())), chunks = Map("t" -> 12))
        .curvefitExp("t").collectConsolidated()._2.vars("v_cf_a").arr.toDoubles
      assert(ga.toSeq.zip(ref.toSeq).forall { case (p, q) =>
        (p.isNaN && q.isNaN) || p == q
      }, s"ch=$ch chunking changed bits")
    }
    // without skipna, a NaN poisons its lane
    val strict = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), mkVals())), chunks = Map("t" -> 4))
      .curvefitExp("t", skipna = false)
      .collectConsolidated()._2.vars("v_cf_a").arr.toDoubles
    assert(!strict(0).isNaN && strict(1).isNaN && strict(3).isNaN)
    // name collision rejects loudly
    val clash = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t"), arange(DType.F64, 8)),
      "v_cf_a" -> (Seq("t"), arange(DType.F64, 8))), chunks = Map("t" -> 4))
    assertThrows[IllegalArgumentException](clash.curvefitExp("t"))
    // power-law variant: planted a·(t+1)^b recovery across chunkings
    // (a·u^b = a·exp(b·ln u) — the same solver over a log abscissa)
    for (ch <- Seq(3, 12)) {
      val pv = NdArray.zeros(DType.F64, Array(12, 2))
      for (t <- 0 until 12; x <- 0 until 2)
        pv.setDouble(t * 2L + x,
          (if (x == 0) 3.0 else 0.5) * math.pow(t + 1.0, if (x == 0) -0.5 else 0.75))
      val out = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), pv)), chunks = Map("t" -> ch))
        .curvefitPow("t").collectConsolidated()._2
      val pa = out.vars("v_cf_a").arr.toDoubles
      val pb = out.vars("v_cf_b").arr.toDoubles
      assert(math.abs(pa(0) - 3.0) < 1e-8 && math.abs(pb(0) + 0.5) < 1e-8,
        s"ch=$ch ${pa(0)}/${pb(0)}")
      assert(math.abs(pa(1) - 0.5) < 1e-8 && math.abs(pb(1) - 0.75) < 1e-8,
        s"ch=$ch ${pa(1)}/${pb(1)}")
    }
    // logistic variant: planted L/(1+exp(-k(t-t0))) recovery across
    // chunkings (3-parameter LM, logit-linear seed); lane 1 carries
    // NaN holes, lane 2 has 2 valid points (< 3 -> NaN triple)
    val nT = 40
    def mkLog(): NdArray = {
      val v = NdArray.zeros(DType.F64, Array(nT, 3))
      val Ls = Array(5.0, 2.0, 3.0)
      val ks = Array(0.4, 0.3, 0.5)
      val t0s = Array(20.0, 16.0, 20.0)
      for (t <- 0 until nT; x <- 0 until 3)
        v.setDouble(t * 3L + x,
          Ls(x) / (1.0 + math.exp(-ks(x) * (t - t0s(x)))))
      v.setDouble(5 * 3L + 1, Double.NaN)
      v.setDouble(21 * 3L + 1, Double.NaN)
      for (t <- 0 until nT if t != 3 && t != 30)
        v.setDouble(t * 3L + 2, Double.NaN)
      v
    }
    var logRef: Array[Double] = null
    for (ch <- Seq(7, 40)) {
      val out = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), mkLog())), chunks = Map("t" -> ch))
        .curvefitLogistic("t")
      assert(out.template.vars.keySet ==
        Set("v_cf_l", "v_cf_k", "v_cf_t0"), s"ch=$ch")
      val c = out.collectConsolidated()._2
      val gl = c.vars("v_cf_l").arr.toDoubles
      val gk = c.vars("v_cf_k").arr.toDoubles
      val gt = c.vars("v_cf_t0").arr.toDoubles
      assert(math.abs(gl(0) - 5.0) < 1e-7 && math.abs(gk(0) - 0.4) < 1e-7 &&
        math.abs(gt(0) - 20.0) < 1e-6, s"ch=$ch ${gl(0)}/${gk(0)}/${gt(0)}")
      assert(math.abs(gl(1) - 2.0) < 1e-7 && math.abs(gk(1) - 0.3) < 1e-7 &&
        math.abs(gt(1) - 16.0) < 1e-6, s"ch=$ch ${gl(1)}/${gk(1)}/${gt(1)}")
      assert(gl(2).isNaN && gk(2).isNaN && gt(2).isNaN, s"ch=$ch")
      if (logRef == null) logRef = gl ++ gk ++ gt
      else assert((gl ++ gk ++ gt).zip(logRef).forall { case (p, q) =>
        (p.isNaN && q.isNaN) || p == q
      }, s"ch=$ch logistic chunking changed bits")
    }
    // gaussian variant: planted a·exp(-(t-mu)²/(2σ²)) recovery across
    // chunkings (moment-method seed); lane 1 has NaN holes, lane 2 is
    // all-zero (no positive values -> NaN triple); sigma is positive by
    // convention regardless of the solver's internal sign
    def mkGauss(): NdArray = {
      val v = NdArray.zeros(DType.F64, Array(40, 3))
      val as2 = Array(4.0, 1.5, 0.0)
      val mus = Array(20.0, 14.0, 0.0)
      val sgs = Array(5.0, 3.0, 1.0)
      for (t <- 0 until 40; x <- 0 until 2)
        v.setDouble(t * 3L + x,
          as2(x) * math.exp(-(t - mus(x)) * (t - mus(x)) / (2 * sgs(x) * sgs(x))))
      v.setDouble(4 * 3L + 1, Double.NaN)
      v.setDouble(25 * 3L + 1, Double.NaN)
      v
    }
    var gaussRef: Array[Double] = null
    for (ch <- Seq(7, 40)) {
      val c = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), mkGauss())), chunks = Map("t" -> ch))
        .curvefitGaussian("t").collectConsolidated()._2
      val ga2 = c.vars("v_cf_a").arr.toDoubles
      val gm = c.vars("v_cf_mu").arr.toDoubles
      val gs = c.vars("v_cf_sigma").arr.toDoubles
      assert(math.abs(ga2(0) - 4.0) < 1e-7 && math.abs(gm(0) - 20.0) < 1e-6 &&
        math.abs(gs(0) - 5.0) < 1e-6, s"ch=$ch ${ga2(0)}/${gm(0)}/${gs(0)}")
      assert(math.abs(ga2(1) - 1.5) < 1e-7 && math.abs(gm(1) - 14.0) < 1e-6 &&
        math.abs(gs(1) - 3.0) < 1e-6, s"ch=$ch ${ga2(1)}/${gm(1)}/${gs(1)}")
      assert(gs(0) > 0 && gs(1) > 0, s"ch=$ch sigma sign convention")
      assert(ga2(2).isNaN && gm(2).isNaN && gs(2).isNaN,
        s"ch=$ch all-zero lane must be NaN (no positive values)")
      if (gaussRef == null) gaussRef = ga2 ++ gm ++ gs
      else assert((ga2 ++ gm ++ gs).zip(gaussRef).forall { case (p, q) =>
        (p.isNaN && q.isNaN) || p == q
      }, s"ch=$ch gaussian chunking changed bits")
    }
  }

  test("rollingConstruct: window view matches manual lags at any chunking") {
    import graft.Fixtures.arange
    // 2-D (t=10, x=3): the win dim appends last; [t, x, k] = v[t-2+k, x]
    def ds(ch: Int) = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t", "x"), arange(DType.F64, 10, 3))),
      chunks = Map("t" -> ch, "x" -> 3))
    val expected = for {
      t <- 0 until 10; x <- 0 until 3; k <- 0 until 3
    } yield {
      val src = t - 2 + k
      if (src < 0) Double.NaN else (src * 3 + x).toDouble
    }
    for (ch <- Seq(3, 5, 10)) {
      val out = ds(ch).rollingConstruct("t", 3, "win")
      assert(out.template.dimSizes("win") == 3L, s"chunk=$ch")
      assert(out.template.vars("v").dims == Seq("t", "x", "win"), s"chunk=$ch")
      val got = out.collectConsolidated()._2.vars("v").arr.toDoubles
      assert(got.length == expected.length, s"chunk=$ch")
      got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
        assert((g.isNaN && e.isNaN) || g == e, s"chunk=$ch cell $i: $g vs $e")
      }
    }
    // rejects: existing dim name, window larger than chunk+1
    val e1 = intercept[IllegalArgumentException](
      ds(5).rollingConstruct("t", 3, "x"))
    assert(e1.getMessage.contains("already exists"))
    val e2 = intercept[IllegalArgumentException](
      ds(3).rollingConstruct("t", 5))
    assert(e2.getMessage.contains("halo"))
  }

  test("convolve: fused construct-dot matches the manual kernel; NaN taps void") {
    import graft.Fixtures.arange
    val wts = Array(0.25, 0.5, 1.0, 2.0)
    def ds(ch: Int) = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t", "x"), arange(DType.F64, 12, 2))),
      chunks = Map("t" -> ch, "x" -> 2))
    val expected = for { t <- 0 until 12; x <- 0 until 2 } yield {
      if (t < 3) Double.NaN
      else (0 until 4).map(k => wts(k) * ((t - 3 + k) * 2 + x)).sum
    }
    for (ch <- Seq(4, 6, 12)) {
      val got = ds(ch).convolve("t", wts)
        .collectConsolidated()._2.vars("v").arr.toDoubles
      got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
        assert((g.isNaN && e.isNaN) || g == e, s"chunk=$ch cell $i: $g vs $e")
      }
    }
    // a NaN tap voids exactly the windows that see it (t=5 → out 5..8)
    val data = Array.tabulate(12)(t => if (t == 5) Double.NaN else t.toDouble)
    val withNaN = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(12), data))),
      chunks = Map("t" -> 4))
    val gotN = withNaN.convolve("t", wts)
      .collectConsolidated()._2.vars("v").arr.toDoubles
    (0 until 12).foreach { t =>
      if (t < 3 || (t >= 5 && t <= 8)) assert(gotN(t).isNaN, s"t=$t")
      else assert(gotN(t) ==
        (0 until 4).map(k => wts(k) * (t - 3 + k)).sum, s"t=$t")
    }
    // rejects: a 1-tap kernel, a kernel wider than chunk+1
    val e1 = intercept[IllegalArgumentException](ds(4).convolve("t", Array(1.0)))
    assert(e1.getMessage.contains("taps"))
    val e2 = intercept[IllegalArgumentException](ds(2).convolve("t", wts))
    assert(e2.getMessage.contains("halo"))
  }

  test("all-resolved gathers preserve dtype; NaN-fill reindex promotes") {
    import graft.Fixtures.arange
    def intDs(ch: Int) = {
      val base = XbeamDataset.fromLocal(spark, Map(
        "iv" -> (Seq("t"), arange(DType.I64, 6)),
        "fv" -> (Seq("t"), arange(DType.F64, 6))),
        chunks = Map("t" -> ch))
      XbeamDataset.fromPairs(spark,
        base.template.copy(coords = Map("t" -> NdArray.fromLongs(
          DType.I64, Array(6), Array(5L, 2L, 5L, 7L, 2L, 1L)))),
        base.chunkSizes, base.chunkDataset, validate = false)
    }
    // drop_duplicates is a pure selection: int64 stays int64 (beyond
    // 2^53 exactness and the emitted Spark schema both depend on this)
    for (ch <- Seq(2, 3, 6)) {
      val dd = intDs(ch).dropDuplicates("t")
      assert(dd.template.vars("iv").dtype == DType.I64, s"chunk=$ch")
      assert(dd.template.vars("fv").dtype == DType.F64, s"chunk=$ch")
      val (_, chunk) = dd.collectConsolidated()
      assert(chunk.vars("iv").arr.dtype == DType.I64, s"chunk=$ch")
      assert(chunk.vars("iv").arr.toLongs.toSeq == Seq(0L, 1L, 3L, 5L),
        s"chunk=$ch")
    }
    // sortby rides the same gather: dtype preserved, order by label
    val ub = XbeamDataset.fromLocal(spark, Map(
      "iv" -> (Seq("t"), arange(DType.I64, 6))), chunks = Map("t" -> 2))
    val uds = XbeamDataset.fromPairs(spark,
      ub.template.copy(coords = Map("t" -> NdArray.fromLongs(
        DType.I64, Array(6), Array(5L, 2L, 0L, 7L, 3L, 1L)))),
      ub.chunkSizes, ub.chunkDataset, validate = false)
    val st = uds.sortby("t")
    assert(st.template.vars("iv").dtype == DType.I64)
    assert(st.collectConsolidated()._2.vars("iv").arr.toLongs.toSeq ==
      Seq(2L, 5L, 1L, 4L, 0L, 3L)) // labels 0,1,2,3,5,7
    // a reindex that misses a label needs NaN fill -> promotes to F64;
    // one that hits every label is a pure selection -> dtype kept
    val ri = uds.reindex("t", Array(5L, 99L))
    assert(ri.template.vars("iv").dtype == DType.F64)
    val rv = ri.collectConsolidated()._2.vars("iv").arr
    assert(rv.getDouble(0) == 0.0 && rv.getDouble(1).isNaN)
    val rh = uds.reindex("t", Array(7L, 5L))
    assert(rh.template.vars("iv").dtype == DType.I64)
    assert(rh.collectConsolidated()._2.vars("iv").arr.toLongs.toSeq ==
      Seq(3L, 0L))
    // signed zeros are ONE float label (pandas/xarray semantics)
    val z = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t"), arange(DType.F64, 3))), chunks = Map("t" -> 3))
    val zd = XbeamDataset.fromPairs(spark,
      z.template.copy(coords = Map("t" -> NdArray.fromDoubles(
        DType.F64, Array(3), Array(-0.0, 0.0, 1.0)))),
      z.chunkSizes, z.chunkDataset, validate = false).dropDuplicates("t")
    assert(zd.template.dimSizes("t") == 2L)
    assert(zd.collectConsolidated()._2.vars("v").arr.toDoubles.toSeq ==
      Seq(0.0, 2.0))
  }

  test("approxWeightedQuantile: chunking-invariant; unit weights land in the same bin family") {
    import graft.Fixtures.arange
    // v = 0..23 over (t=12, x=2), integer weights 1..3 cycling
    def wds(chunk: Int) = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t", "x"), arange(DType.F64, 12, 2)),
      "w" -> (Seq("t", "x"), NdArray.fromDoubles(DType.F64, Array(12, 2),
        Array.tabulate(24)(i => (i % 3 + 1).toDouble)))),
      chunks = Map("t" -> chunk))
    def res(chunk: Int): NdArray =
      wds(chunk).approxWeightedQuantile(0.75, Set("t"), "w", bins = 16)
        .collectConsolidated()._2.vars("v").arr
    val r = res(4)
    // bit-identical under any partitioning (integer-exact bin sums)
    assert(r.sameAs(res(3)) && r.sameAs(res(12)))
    // the weight var is consumed
    val out = wds(4).approxWeightedQuantile(0.75, Set("t"), "w", bins = 16)
    assert(out.template.vars.keySet == Set("v"))
    // with ALL weights 1 the mass quantile tracks the exact quantile
    // within one bin's width
    val ones = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t", "x"), arange(DType.F64, 12, 2)),
      "w" -> (Seq("t", "x"), NdArray.fromDoubles(DType.F64, Array(12, 2),
        Array.fill(24)(1.0)))),
      chunks = Map("t" -> 4))
    val uw = ones.approxWeightedQuantile(0.5, Set("t"), "w", bins = 16)
      .collectConsolidated()._2.vars("v").arr
    val exact = ones.select(Set("v")).quantile(0.5, Set("t"))
      .collectConsolidated()._2.vars("v").arr
    var i = 0L
    while (i < uw.size) {
      assert(math.abs(uw.getDouble(i) - exact.getDouble(i)) <= 22.0 / 16 + 1e-12)
      i += 1
    }
    // a heavy weight drags the mass quantile toward its value: cell x=0
    // has values 0,2,...,22; all weight on 22 puts every q there
    val spiked = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t"), arange(DType.F64, 12)),
      "w" -> (Seq("t"), NdArray.fromDoubles(DType.F64, Array(12),
        Array.tabulate(12)(i => if (i == 11) 100.0 else 0.0)))),
      chunks = Map("t" -> 4))
    val sp = spiked.approxWeightedQuantile(0.5, Set("t"), "w", bins = 16)
      .collectConsolidated()._2.vars("v").arr
    // all mass in the top bin: estimate lands inside it
    assert(sp.getDouble(0) > 10.0 && sp.getDouble(0) <= 11.0 + 1e-12)
  }

  test("approxQuantiles multi-q: one sketch, each suffix equals its single-q run") {
    val multi = era5ds().approxQuantiles(Seq(0.25, 0.5, 0.9), Set("time"),
      bins = 16).collectConsolidated()._2
    for ((q, suf) <- Seq(0.25 -> "_q25", 0.5 -> "_q50", 0.9 -> "_q90")) {
      val single = era5ds().approxQuantile(q, Set("time"), bins = 16)
        .collectConsolidated()._2.vars("temperature").arr
      assert(multi.vars(s"temperature$suf").arr.sameAs(single),
        s"multi-q $suf must match the single-q sketch bit-exactly")
    }
    // output-name collision fails loudly
    val e = intercept[IllegalArgumentException] {
      XbeamDataset.fromLocal(spark, Map(
        "v" -> (Seq("t", "x"), Fixtures.arange(DType.F64, 4, 2)),
        "v_q50" -> (Seq("t", "x"), Fixtures.arange(DType.F64, 4, 2))),
        chunks = Map("t" -> 2)).approxQuantiles(Seq(0.5), Set("t"))
    }
    assert(e.getMessage.contains("collides"))
  }

  test("groupbyCoordApproxQuantile: chunking-invariant; within per-group bound") {
    val vals = NdArray.fromDoubles(DType.F64, Array(12, 2),
      Array.tabulate(24)(i => ((i * 7) % 13).toDouble))
    val coord = NdArray.fromLongs(DType.I64, Array(12),
      Array.tabulate(12)(i => (i % 3).toLong)) // 3 interleaved groups
    def mk(ch: Int) = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)),
      coords = Map("t" -> coord), chunks = Map("t" -> ch))
    def res(ch: Int) = mk(ch).groupbyCoordApproxQuantile("t", 0.5, bins = 8)
      .collectConsolidated()._2.vars("v").arr
    val r = res(4)
    assert(r.sameAs(res(3)) && r.sameAs(res(12)),
      "grouped sketch must be bit-identical under any chunking")
    val exact = mk(4).groupbyCoordQuantile("t", 0.5)
      .collectConsolidated()._2.vars("v").arr
    val lo = mk(4).groupbyCoordReduce("t", "min")
      .collectConsolidated()._2.vars("v").arr
    val hi = mk(4).groupbyCoordReduce("t", "max")
      .collectConsolidated()._2.vars("v").arr
    var i = 0L
    while (i < r.size) {
      val bound = (hi.getDouble(i) - lo.getDouble(i)) / 8
      assert(math.abs(r.getDouble(i) - exact.getDouble(i)) <= bound + 1e-12,
        s"cell $i: approx ${r.getDouble(i)} vs exact ${exact.getDouble(i)}")
      i += 1
    }
  }

  test("approxQuantile: constant, NaN-bearing, and poisoned cells") {
    val vals = NdArray.fromDoubles(DType.F64, Array(4, 3), Array(
      1.0, 5.0, Double.NaN,
      1.0, 7.0, Double.NaN,
      1.0, 6.0, Double.NaN,
      1.0, 8.0, 2.0))
    def ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 2))
    val a = ds.approxQuantile(0.5, Set("t"), bins = 8)
      .collectConsolidated()._2.vars("v").arr
    assert(a.getDouble(0) == 1.0, "constant cell must be exact")
    // x=1: {5,7,6,8}, exact median 6.5, bound (8-5)/8
    assert(math.abs(a.getDouble(1) - 6.5) <= 3.0 / 8 + 1e-12)
    // x=2 under skipna: single valid value -> degenerate bounds -> exact
    assert(a.getDouble(2) == 2.0)
    // skipna=false: any NaN poisons the cell
    val p = ds.approxQuantile(0.5, Set("t"), bins = 8, skipna = false)
      .collectConsolidated()._2.vars("v").arr
    assert(p.getDouble(0) == 1.0 && p.getDouble(2).isNaN)
    // reserved suffix collision fails loudly at plan time
    val e = intercept[IllegalArgumentException] {
      XbeamDataset.fromLocal(spark, Map(
        "v" -> (Seq("t", "x"), vals),
        "v__lo" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 2))
        .approxQuantile(0.5, Set("t"))
    }
    assert(e.getMessage.contains("__lo"))
    // split-variable chunks are refused with guidance (the bounds zip
    // keys positions, not (position, variable))
    val es = intercept[IllegalArgumentException] {
      XbeamDataset.fromLocal(spark, graft.Fixtures.era5(),
        chunks = Map("time" -> 4), splitVars = true)
        .approxQuantile(0.5, Set("time"))
    }
    assert(es.getMessage.contains("consolidateVariables"))
  }

  test("fromPairsDiscovered infers template + grid from raw pairs") {
    // strip the template off a known dataset; discovery must rebuild it
    val base = era5ds() // time=12 chunked 4, ragged-free
    val disc = XbeamDataset.fromPairsDiscovered(spark, base.chunkDataset)
    assert(disc.template.dims == base.template.dims)
    assert(disc.template.vars == base.template.vars)
    assert(disc.chunkSizes == base.chunkSizes)
    assert(disc.collectConsolidated()._2.vars("temperature").arr
      .sameAs(base.collectConsolidated()._2.vars("temperature").arr))

    // ragged tail: 10 rows in chunks of 4 → sizes 4,4,2; the largest
    // extent (4) is the grid, the max end (10) the dim size
    val ragged = XbeamDataset.fromLocal(spark, Map(
      "v" -> (Seq("t"), arange(DType.F64, 10))), chunks = Map("t" -> 4))
    val rd = XbeamDataset.fromPairsDiscovered(spark, ragged.chunkDataset)
    assert(rd.template.dimSizes("t") == 10L && rd.chunkSizes("t") == 4)
    assert(rd.collectConsolidated()._2.vars("v").arr.toDoubles.toSeq ==
      (0 until 10).map(_.toDouble))

    // split-variable pairs: per-var keys still discover the union schema
    val sv = XbeamDataset.fromLocal(spark, Fixtures.era5(),
      chunks = Map("time" -> 6), splitVars = true)
    val svd = XbeamDataset.fromPairsDiscovered(spark, sv.chunkDataset,
      splitVars = true)
    assert(svd.template.vars == sv.template.vars)

    // the discovered dataset is the template-free sink: toZarr works
    val dir = Files.createTempDirectory("discover_zarr").toString
    disc.toZarr(dir)
    val back = XbeamDataset.fromZarr(spark, dir)
    assert(back.collectConsolidated()._2.vars("temperature").arr
      .sameAs(base.collectConsolidated()._2.vars("temperature").arr))

    // misaligned grids fail loudly through validation instead of
    // writing silently incomplete data (the reference's race warning)
    import graft.operators.ChunkTransforms.pairEnc
    val badPairs = base.chunkDataset.map { p: (ChunkKey, ArrayChunk) =>
      val k = p._1
      // shift one interior chunk off-grid
      if (k.offsets.getOrElse("time", 0L) == 4L)
        (k.withOffsets("time" -> 5L), p._2) else p
    }
    val e = intercept[Exception] {
      XbeamDataset.fromPairsDiscovered(spark, badPairs)
        .collectConsolidated()
    }
    assert(e.getMessage != null)

    // indices-keyed chunks are rejected (no grid positions to discover)
    val idxPairs = base.chunkDataset.map { p: (ChunkKey, ArrayChunk) =>
      (ChunkKey(Map.empty, p._1.vars,
        indices = Map("time" -> p._1.offsets("time") / 4)), p._2)
    }
    val e2 = intercept[Exception] {
      XbeamDataset.fromPairsDiscovered(spark, idxPairs).chunkDataset.count()
    }
    assert(e2.getMessage.contains("indices") ||
      e2.getCause != null && e2.getCause.getMessage.contains("indices"))

    // empty collection: loud failure
    val e3 = intercept[IllegalArgumentException] {
      XbeamDataset.fromPairsDiscovered(spark,
        base.chunkDataset.filter((_: (ChunkKey, ArrayChunk)) => false))
    }
    assert(e3.getMessage.contains("empty"))

    // a variable missing its TRAILING chunk (while another variable
    // reaches further) fails the per-var coverage check instead of
    // silently truncating that variable's data
    val holed = base.chunkDataset.map { p: (ChunkKey, ArrayChunk) =>
      if (p._1.offsets.getOrElse("time", 0L) == 8L)
        (p._1, ArrayChunk(p._2.vars - "temperature"))
      else p
    }
    val e4 = intercept[IllegalArgumentException](
      XbeamDataset.fromPairsDiscovered(spark, holed))
    assert(e4.getMessage.contains("covers only"))
  }
}
