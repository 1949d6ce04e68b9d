package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestSpark}
import graft.Fixtures.arange
import graft.core.{ArrayChunk, ChunkKey, VarArray}
import graft.ndarray.{DType, NdArray}

class ChunkTransformsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import ChunkTransforms.{Pair, pairEnc}

  def pairsOf(arr: NdArray, chunk: Int): Seq[Pair] =
    ChunkOps.splitChunks(ChunkKey("t" -> 0L),
      ArrayChunk(Map("v" -> VarArray(Seq("t"), arr))), Map("t" -> chunk))

  test("distributed split+consolidate == in-memory rechunk") {
    val src = arange(DType.F64, 20)
    val input = pairsOf(src, 4)
    val ds = spark.createDataset(input)
    val out = ChunkTransforms.consolidateChunks(
      ChunkTransforms.splitChunks(ds, Map("t" -> 5)), Map("t" -> 5))
      .collect().sortBy(_._1.offsets("t")).toSeq
    val expected = ChunkOps.inMemoryRechunk(input, Map("t" -> 5))
      .sortBy(_._1.offsets("t"))
    assert(out.map(_._1) == expected.map(_._1))
    out.zip(expected).foreach { case ((_, a), (_, b)) =>
      assert(a.vars("v").arr.sameAs(b.vars("v").arr))
    }
  }

  test("multi-stage rechunk preserves every value (uneven sizes)") {
    val src = arange(DType.F64, 17, 7)
    val input = ChunkOps.splitChunks(ChunkKey("t" -> 0L, "x" -> 0L),
      ArrayChunk(Map("v" -> VarArray(Seq("t", "x"), src))),
      Map("t" -> 3, "x" -> 7))
    val ds = spark.createDataset(input)
    val dimSizes = Map("t" -> 17L, "x" -> 7L)
    val stages = ChunkTransforms.rechunkStages(Seq("t", "x"), dimSizes,
      Map("t" -> 3, "x" -> 7), Map("t" -> 17, "x" -> 2), itemsize = 8,
      minMem = 8, maxMem = 1L << 20)
    val out = ChunkTransforms.rechunk(ds, stages, dimSizes, src.nbytes, vars = 1)
    val back = ChunkOps.consolidateChunks(out.collect().toSeq)
    assert(back.head._2.vars("v").arr.sameAs(src))
    assert(stages.nonEmpty)
  }

  test("mean per key: rekeyed groups match local computation (skipna)") {
    // 6 time steps, rekey to time%2 groups, mean over the time dim
    val data = (0 until 6).map { ti =>
      val arr = NdArray.fromDoubles(DType.F64, Array(1, 3),
        Array(ti.toDouble, ti * 2.0, if (ti == 0) Double.NaN else ti * 3.0))
      (ChunkKey("t" -> ti.toLong), ArrayChunk(Map("v" -> VarArray(Seq("t", "x"), arr))))
    }
    val ds = spark.createDataset(data)
    val out = ChunkTransforms.mean(ds, dims = Set("t"), skipna = true,
      rekey = k => ChunkKey("group" -> (k.offsets.getOrElse("t", 0L) % 2)))
      .collect().sortBy(_._1.offsets("group"))
    assert(out.length == 2)
    val evens = Seq(0, 2, 4)
    val g0 = out(0)._2.vars("v").arr.toDoubles
    val g1 = out(1)._2.vars("v").arr.toDoubles
    assert(g0(0) == evens.map(_.toDouble).sum / 3)
    assert(g0(1) == evens.map(_ * 2.0).sum / 3)
    // NaN at ti=0 skipped: mean of {2*3, 4*3} over 2 values
    assert(g0(2) == (6.0 + 12.0) / 2)
    assert(g1.toSeq == Seq(3.0, 6.0, 9.0))
  }

  test("consolidateVariables merges split vars back (distributed)") {
    val fixture = Fixtures.era5(time = 4, lat = 2, lon = 3)
    val chunk = ArrayChunk(fixture.map { case (n, (dims, arr)) =>
      n -> VarArray(dims, arr)
    })
    val split = ChunkOps.splitVariables(ChunkKey("time" -> 0L), chunk)
    val ds = spark.createDataset(split)
    val merged = ChunkTransforms.consolidateVariables(ds).collect()
    assert(merged.length == 1)
    assert(merged.head._2.varNames == Set("temperature", "precip"))
    assert(merged.head._2.vars("temperature").arr.sameAs(
      fixture("temperature")._2))
  }
}
