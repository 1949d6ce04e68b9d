package graft.core

import graft.ndarray.{DType, NdArray}

/** Schema of one variable in the virtual whole dataset. `fillValue`
  * overrides the store default fill (NaN for floats, 0 for ints) when
  * the variable's zarr metadata is written — the lever that makes
  * metadata-only store initialization possible: an accumulator store
  * declared with fillValue=0 needs ZERO chunk writes for absent cells
  * to read back as explicit zeros (readRegion materializes absent
  * blocks from the stored fill_value), where a zero-init batch write
  * would touch every chunk of a possibly-huge store. */
final case class VarSpec(dims: Seq[String], dtype: DType,
                         fillValue: Option[Double] = None) {
  def shape(dimSizes: Map[String, Long]): Seq[Long] = dims.map(dimSizes)
}

/** The declared schema of the whole virtual dataset — the stand-in for
  * the reference's lazy-Dask "template" (zarr.py:107-146). On the JVM no
  * lazy-array trickery is needed: a plain case class carries the full
  * dims/vars/coords/attrs picture and every chunk is validated against
  * it (dataset.py:236-332).
  *
  * `coords` are small eager 1-d arrays (dim coordinates), written to the
  * store at setup time by the driver — the reference's "unchunked
  * variables" (zarr.py:617-620).
  */
final case class Template(dims: Seq[(String, Long)],
                          vars: Map[String, VarSpec],
                          coords: Map[String, NdArray],
                          attrs: Map[String, String]) {

  def dimSizes: Map[String, Long] = dims.toMap
  def dimOrder: Seq[String] = dims.map(_._1)

  /** Replace dimension sizes and/or coordinates
    * (replace_template_dims, zarr.py:150-226): a plain size replacement
    * drops the dim's now-stale coordinate; a coordinate replacement
    * sets both the coord and the size from the array length. Handy for
    * growing a single-chunk template to the full output shape. */
  def replaceDims(sizes: Map[String, Long] = Map.empty,
                  newCoords: Map[String, NdArray] = Map.empty): Template = {
    val coordSizes = newCoords.map { case (d, arr) => d -> arr.shape(0).toLong }
    val unknown = (sizes.keySet ++ newCoords.keySet) -- dims.map(_._1).toSet
    require(unknown.isEmpty, s"replaceDims: unknown dims $unknown")
    Template(
      dims.map { case (d, s) =>
        d -> sizes.getOrElse(d, coordSizes.getOrElse(d, s))
      },
      vars,
      (coords -- sizes.keySet) ++ newCoords,
      attrs)
  }

  def selectVars(names: Set[String]): Template = {
    val missing = names -- vars.keySet
    require(missing.isEmpty, s"template does not have variables $missing")
    val keptDims = vars.filter(kv => names(kv._1)).values.flatMap(_.dims).toSet
    Template(dims.filter(d => keptDims(d._1)), vars.filter(kv => names(kv._1)),
      coords.filter(kv => keptDims(kv._1)), attrs)
  }

  /** Total nbytes of the virtual dataset (for planning). */
  def nbytes: Long = {
    val ds = dimSizes
    vars.valuesIterator.map(vs => vs.dims.map(ds).product * vs.dtype.itemsize).sum
  }

  /** Combined per-element byte width for byte-target chunk sizing
    * (dataset.py:170-177): the largest variable's itemsize when chunks
    * are split by variable, else the sum over all variables (a chunk
    * then carries every variable). 1 when there are no variables (the
    * reference's dummy uint8). */
  def combinedItemsize(splitVars: Boolean): Long =
    if (vars.isEmpty) 1L
    else if (splitVars) vars.valuesIterator.map(_.dtype.itemsize.toLong).max
    else vars.valuesIterator.map(_.dtype.itemsize.toLong).sum
}
