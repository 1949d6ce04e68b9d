package graft.ndarray

import org.scalatest.funsuite.AnyFunSuite

import graft.Fixtures.arange

class NdArraySpec extends AnyFunSuite {

  test("shape/size/strides/bytes") {
    val a = arange(DType.F64, 2, 3, 4)
    assert(a.size == 24)
    assert(a.nbytes == 192)
    assert(a.strides.toSeq == Seq(12L, 4L, 1L))
  }

  test("fill matches per-element setDouble for every dtype and shape") {
    val dtypes = Seq(DType.F32, DType.F64, DType.I32, DType.I64, DType.I16,
      DType.I8, DType.U8, DType.Bool, DType.TimeNs)
    val values = Seq(0.0, -0.0, 1.5, -3.0, 300.0, 1e20, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val shapes = Seq(Array[Int](), Array(0), Array(1), Array(3), Array(7, 5),
      Array(2, 0, 3), Array(3, 1, 9))
    for (dtype <- dtypes; v <- values; shape <- shapes) {
      val expect = NdArray.zeros(dtype, shape)
      var i = 0L
      while (i < expect.size) { expect.setDouble(i, v); i += 1 }
      val got = NdArray.fill(dtype, shape, v)
      assert(got.sameAs(expect), s"$dtype ${shape.mkString("x")} fill $v")
    }
  }

  test("slice extracts a hyper-rectangle (row-major values)") {
    val a = arange(DType.I64, 3, 4) // [[0..3],[4..7],[8..11]]
    val s = a.slice(Array(1, 1), Array(2, 2))
    assert(s.toLongs.toSeq == Seq(5L, 6L, 9L, 10L))
  }

  test("slice/insert roundtrip") {
    val a = arange(DType.F32, 4, 5)
    val s = a.slice(Array(1, 2), Array(2, 3))
    val out = NdArray.zeros(DType.F32, Array(4, 5))
    out.insert(Array(1, 2), s)
    val expect = a.toDoubles.zipWithIndex.map { case (v, i) =>
      val (r, c) = (i / 5, i % 5)
      if (r >= 1 && r < 3 && c >= 2 && c < 5) v else 0.0
    }
    assert(out.toDoubles.toSeq == expect.toSeq)
  }

  test("transpose permutes axes like numpy") {
    val a = arange(DType.I32, 2, 3)
    val t = a.transpose(Array(1, 0))
    assert(t.shape.toSeq == Seq(3, 2))
    assert(t.toLongs.toSeq == Seq(0L, 3L, 1L, 4L, 2L, 5L))
    // double transpose is identity
    assert(t.transpose(Array(1, 0)).sameAs(a))
  }

  test("transpose preserves float values bit-exactly (regression)") {
    val a = NdArray.fromDoubles(DType.F64, Array(2, 2),
      Array(1.5, -2.25, 3.75, Double.NaN))
    val t = a.transpose(Array(1, 0))
    assert(t.toDoubles.take(3).toSeq == Seq(1.5, 3.75, -2.25))
    assert(t.toDoubles(3).isNaN)
    val f = NdArray.fromDoubles(DType.F32, Array(1, 2), Array(6.0, 4.5))
    assert(f.transpose(Array(1, 0)).toDoubles.toSeq == Seq(6.0, 4.5))
  }

  test("sumCount reduces along given axes") {
    val a = arange(DType.F64, 2, 3) // [[0,1,2],[3,4,5]]
    val (s0, c0) = a.sumCount(Array(0), skipna = true)
    assert(s0.toDoubles.toSeq == Seq(3.0, 5.0, 7.0))
    assert(c0.toDoubles.toSeq == Seq(2.0, 2.0, 2.0))
    val (s1, _) = a.sumCount(Array(1), skipna = true)
    assert(s1.toDoubles.toSeq == Seq(3.0, 12.0))
    val (sAll, cAll) = a.sumCount(Array(0, 1), skipna = true)
    assert(sAll.toDoubles.toSeq == Seq(15.0))
    assert(cAll.toDoubles.toSeq == Seq(6.0))
  }

  test("sumCount skipna ignores NaN; keepna counts it") {
    val a = NdArray.fromDoubles(DType.F64, Array(3), Array(1.0, Double.NaN, 2.0))
    val (s, c) = a.sumCount(Array(0), skipna = true)
    assert(s.toDoubles.toSeq == Seq(3.0) && c.toDoubles.toSeq == Seq(2.0))
    val (s2, c2) = a.sumCount(Array(0), skipna = false)
    assert(s2.toDoubles.head.isNaN && c2.toDoubles.toSeq == Seq(3.0))
  }

  test("blockAssemble tiles blocks (np.block analogue)") {
    val tl = arange(DType.I64, 2, 2)
    val tr = NdArray.fill(DType.I64, Array(2, 1), 9)
    val bl = NdArray.fill(DType.I64, Array(1, 2), 7)
    val br = NdArray.fill(DType.I64, Array(1, 1), 8)
    val out = NdArray.blockAssemble(DType.I64, Array(3, 3), Seq(
      (Array(0, 0), tl), (Array(0, 2), tr), (Array(2, 0), bl), (Array(2, 2), br)))
    assert(out.toLongs.toSeq == Seq(0L, 1L, 9L, 2L, 3L, 9L, 7L, 7L, 8L))
  }

  test("dtype views: f32 roundtrips through double, i64 exact") {
    val f = NdArray.fromDoubles(DType.F32, Array(2), Array(1.5, -2.25))
    assert(f.toDoubles.toSeq == Seq(1.5, -2.25))
    val big = 1L << 60
    val i = NdArray.fromLongs(DType.I64, Array(1), Array(big))
    assert(i.toLongs.toSeq == Seq(big))
  }

  test("allClose: NaN == NaN, tolerance respected") {
    val a = NdArray.fromDoubles(DType.F64, Array(2), Array(1.0, Double.NaN))
    val b = NdArray.fromDoubles(DType.F64, Array(2), Array(1.0 + 1e-12, Double.NaN))
    assert(a.allClose(b))
  }

  test("pairMoments: per-cell joint moments, pairwise NaN drop, multi-axis") {
    // 2x3: x = [[1,2,3],[4,5,6]], y = [[2,4,6],[8,10,NaN]]
    val x = NdArray.fromDoubles(DType.F64, Array(2, 3), Array(1, 2, 3, 4, 5, 6))
    val y = NdArray.fromDoubles(DType.F64, Array(2, 3),
      Array(2, 4, 6, 8, 10, Double.NaN))
    // reduce axis 1 → per-row; row 1 keeps pairs (4,8),(5,10)
    val m = x.pairMoments(y, Array(1), skipna = true)
    assert(m(0).toDoubles.toSeq == Seq(3.0, 2.0))            // n
    assert(m(1).toDoubles.toSeq == Seq(6.0, 9.0))            // Σx
    assert(m(2).toDoubles.toSeq == Seq(12.0, 18.0))          // Σy
    assert(m(3).toDoubles.toSeq == Seq(2.0 + 8 + 18, 32.0 + 50)) // Σxy
    assert(m(4).toDoubles.toSeq == Seq(14.0, 41.0))          // Σx²
    assert(m(5).toDoubles.toSeq == Seq(4.0 + 16 + 36, 164.0)) // Σy²
    // both axes → one global cell over the 5 complete pairs
    val g = x.pairMoments(y, Array(0, 1), skipna = true)
    assert(g(0).getDouble(0) == 5.0 && g(1).getDouble(0) == 15.0)
    // without skipna the NaN poisons its cell's sums
    val p = x.pairMoments(y, Array(1), skipna = false)
    assert(p(0).toDoubles.toSeq == Seq(3.0, 3.0)) // n counts everything
    assert(p(3).getDouble(1).isNaN)
    // shape mismatch rejected
    assertThrows[IllegalArgumentException] {
      x.pairMoments(NdArray.zeros(DType.F64, Array(3, 2)), Array(0), skipna = true)
    }
  }

  test("weightedMoments: (Σwv, Σwv², Σw) with per-axis weights and NaN mask") {
    // [[1,2],[3,NaN]] weights axis0 = [1,2], axis1 = [10, 100]
    val a = NdArray.fromDoubles(DType.F64, Array(2, 2),
      Array(1, 2, 3, Double.NaN))
    val (s, q, w) = a.weightedMoments(Array(0, 1),
      Array(Array(1.0, 2.0), Array(10.0, 100.0)), skipna = true)
    // weights: (0,0)=10 (0,1)=100 (1,0)=20 (1,1)=200(masked)
    assert(s.getDouble(0) == 10.0 * 1 + 100 * 2 + 20 * 3)
    assert(q.getDouble(0) == 10.0 * 1 + 100 * 4 + 20 * 9)
    assert(w.getDouble(0) == 10.0 + 100 + 20)
    // null weight array = weight 1 on that axis
    val (s2, _, w2) = a.weightedMoments(Array(0, 1),
      Array(null, Array(10.0, 100.0)), skipna = true)
    assert(s2.getDouble(0) == 10.0 * 1 + 100 * 2 + 10 * 3)
    assert(w2.getDouble(0) == 10.0 + 100 + 10)
  }

  test("quantile interpolation methods at rank h = q*(m-1)") {
    // 1-d cell [10, 20, 30, 40]: h = q*3
    val a = NdArray.fromDoubles(DType.F64, Array(4), Array(10, 20, 30, 40))
    def q(qq: Double, m: String): Double =
      a.quantileAlong(Array(0), qq, skipna = true, method = m).getDouble(0)
    // q=0.4 -> h=1.2: lo=20, hi=30
    assert(math.abs(q(0.4, "linear") - 22.0) < 1e-12)
    assert(q(0.4, "lower") == 20.0)
    assert(q(0.4, "higher") == 30.0)
    assert(q(0.4, "nearest") == 20.0) // frac 0.2 <= 0.5
    assert(q(0.4, "midpoint") == 25.0)
    // q=0.6 -> h=1.8: nearest goes up
    assert(q(0.6, "nearest") == 30.0)
    // exact (dyadic) ranks: all methods agree at the endpoints
    Seq("linear", "lower", "higher", "nearest", "midpoint").foreach { m =>
      assert(q(0.0, m) == 10.0, m)
      assert(q(1.0, m) == 40.0, m)
    }
    // half tie (h=1.5, q=0.5): numpy rounds half to EVEN index -> 2 -> 30
    assert(q(0.5, "nearest") == 30.0)
    assert(q(0.5, "midpoint") == 25.0)
    // half tie at an even floor stays put: [10,20,30] q=0.25 -> h=0.5 -> 10
    val b = NdArray.fromDoubles(DType.F64, Array(3), Array(10, 20, 30))
    assert(b.quantileAlong(Array(0), 0.25, skipna = true,
      method = "nearest").getDouble(0) == 10.0)
    // unknown method rejects loudly
    val e = intercept[IllegalArgumentException](q(0.5, "weird"))
    assert(e.getMessage.contains("method"))
  }
}
