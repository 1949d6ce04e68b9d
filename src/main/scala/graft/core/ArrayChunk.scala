package graft.core

import graft.ndarray.NdArray

/** One data variable inside a chunk: its dimension names (in axis order)
  * and the dense block. The JVM stand-in for one xarray.DataArray. */
final case class VarArray(dims: Seq[String], arr: NdArray)

/** An in-memory chunk: a set of named variables over named dimensions —
  * the stand-in for the xarray.Dataset payloads flowing through the
  * reference's PCollections (core.py:72-76). Coordinates live in the
  * [[Template]] (they are "unchunked" eager variables at write time,
  * zarr.py:617-620), so chunks carry data variables only.
  */
final case class ArrayChunk(vars: Map[String, VarArray]) {

  def varNames: Set[String] = vars.keySet

  /** Sizes of every dim appearing in this chunk; error on inconsistency. */
  def dimSizes: Map[String, Int] = {
    val m = scala.collection.mutable.Map[String, Int]()
    vars.foreach { case (name, va) =>
      va.dims.zip(va.arr.shape).foreach { case (d, s) =>
        m.get(d) match {
          case Some(prev) if prev != s =>
            throw new IllegalArgumentException(
              s"inconsistent size for dim $d: $prev vs $s (var $name)")
          case _ => m(d) = s
        }
      }
    }
    m.toMap
  }

  def nbytes: Long = vars.valuesIterator.map(_.arr.nbytes).sum

  /** Slice every variable on the given per-dim (start, size) ranges;
    * dims absent from a variable are ignored (irregular vars, see
    * FIXTURES.md F3). */
  def isel(ranges: Map[String, (Int, Int)]): ArrayChunk =
    ArrayChunk(vars.map { case (name, va) =>
      val starts = va.dims.map(d => ranges.get(d).map(_._1).getOrElse(0)).toArray
      val sizes = va.dims.zipWithIndex.map { case (d, i) =>
        ranges.get(d).map(_._2).getOrElse(va.arr.shape(i))
      }.toArray
      name -> VarArray(va.dims, va.arr.slice(starts, sizes))
    })

  def select(names: Set[String]): ArrayChunk = {
    val missing = names -- vars.keySet
    require(missing.isEmpty, s"variables not in chunk: $missing")
    ArrayChunk(vars.filter(kv => names(kv._1)))
  }

  /** Merge variable sets of chunks with identical offsets
    * (consolidate_variables, rechunk.py:201-238). Overlap = error. */
  def merge(other: ArrayChunk): ArrayChunk = {
    val overlap = varNames.intersect(other.varNames)
    require(overlap.isEmpty,
      s"cannot merge chunks with overlapping variables: $overlap")
    ArrayChunk(vars ++ other.vars)
  }

  def mapVars(f: (String, VarArray) => VarArray): ArrayChunk =
    ArrayChunk(vars.map { case (n, va) => n -> f(n, va) })
}

object ArrayChunk {
  val empty: ArrayChunk = ArrayChunk(Map.empty)

  def single(name: String, dims: Seq[String], arr: NdArray): ArrayChunk =
    ArrayChunk(Map(name -> VarArray(dims, arr)))
}
