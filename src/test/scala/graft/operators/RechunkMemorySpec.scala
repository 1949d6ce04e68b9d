package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.{ArrayChunk, ChunkKey, VarArray}
import graft.Fixtures.arange
import graft.ndarray.DType

/** Converts the rechunk planner's max_mem contract from plan arithmetic
  * to OBSERVATION (rechunker_algorithm.py:228-349 parity): run a
  * genuinely multi-stage rechunk under a deliberately small maxMem and
  * measure the peak materialized chunk bytes AFTER EVERY STAGE — the
  * consolidated chunks a task must hold — asserting the measured peak
  * stays within the planned bound. The planner spec proves the plan's
  * arithmetic; this spec proves the execution actually materializes
  * chunks of the planned sizes and nothing larger. */
class RechunkMemorySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import ChunkTransforms.pairEnc

  test("multi-stage rechunk: measured peak chunk bytes <= maxMem bound") {
    // 512x256 float64 (1 MiB total); thin rows -> thin columns is the
    // canonical transpose-style rechunk that CANNOT go direct (a single
    // consolidation would materialize the full 1 MiB against a 64 KiB
    // budget), forcing the geomspace multi-stage path.
    val (nt, nx) = (512, 256)
    val src = arange(DType.F64, nt, nx)
    val srcChunks = Map("t" -> 4, "x" -> nx)
    val tgtChunks = Map("t" -> nt, "x" -> 2)
    val maxMem = 64L * 1024
    val input = ChunkOps.splitChunks(ChunkKey("t" -> 0L, "x" -> 0L),
      ArrayChunk(Map("v" -> VarArray(Seq("t", "x"), src))), srcChunks)
    val ds = spark.createDataset(input)(pairEnc)

    val stages = ChunkTransforms.rechunkStages(Seq("t", "x"),
      Map("t" -> nt.toLong, "x" -> nx.toLong), srcChunks, tgtChunks,
      itemsize = 8, minMem = 8L * 1024, maxMem = maxMem)
    // the bound must be doing real work: more than the two edge stages
    assert(stages.size >= 3, s"expected a multi-stage plan, got $stages")

    // replay the identical stage chain, measuring the max materialized
    // chunk after each stage — the bytes a consolidating task held
    import spark.implicits._
    var cur = ds
    var peak = 0L
    val perStage = stages.map { case (in, tgt) =>
      cur = ChunkTransforms.rechunkStage(cur, in, tgt, partitions = 4)
      val p = cur.map { pair: (ChunkKey, ArrayChunk) => pair._2.nbytes }
        .reduce((a: Long, b: Long) => math.max(a, b))
      peak = math.max(peak, p)
      p
    }
    assert(peak <= maxMem,
      s"measured peak chunk $peak B exceeds planned maxMem $maxMem B " +
        s"(per-stage peaks: $perStage)")
    info(f"peak/bound ratio: $peak B / $maxMem B = ${peak.toDouble / maxMem}%.3f " +
      s"(stages: ${stages.size}, per-stage peaks: ${perStage.mkString(", ")})")
    // a vacuous pass (everything tiny) would prove nothing: the peak
    // must come within 4x of the budget for the probe to be meaningful
    assert(peak * 4 >= maxMem,
      s"peak $peak B is far below the $maxMem B budget — config too small " +
        "to exercise the bound")

    // and the replayed chain is still the identity on values
    val back = ChunkOps.consolidateChunks(cur.collect().toSeq)
    assert(back.length == 1)
    assert(back.head._2.vars("v").arr.sameAs(src))
  }
}
