package graft.api

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{ArrayChunk, ChunkGrid, ChunkKey, Template, VarArray, VarSpec}
import graft.ndarray.{DType, NdArray}
import graft.operators.ChunkTransforms

/** Bridge between the chunked tensor world and Spark SQL rows (SURVEY
  * §7.8 — our extension; the reference has no relational surface). One
  * row per grid position: one BIGINT column per dimension (global
  * index) plus one column per variable (typed by dtype). Both
  * directions are distributed flatMap/groupBy — chunk payloads never
  * visit the driver.
  *
  * This is what makes the chunk engine DuckDB-oracle-checkable: any
  * chunk pipeline ending in `toDataFrame` can be compared against plain
  * SQL over the same source rows.
  */
object TabularBridge {

  private def sparkTypeOf(dt: DType): DataType = dt match {
    case DType.F32 | DType.F64 => DoubleType
    case _ => LongType
  }

  /** Explode a chunked dataset into rows. Requires every variable to
    * span the template's full dim set (use select/splitVars upstream
    * for irregular datasets). */
  def toDataFrame(xds: XbeamDataset): DataFrame = {
    val template = xds.template
    val dims = template.dimOrder
    val varNames = template.vars.keys.toSeq.sorted
    varNames.foreach { v =>
      require(template.vars(v).dims == dims,
        s"toDataFrame requires var $v dims ${template.vars(v).dims} == $dims; " +
          "select() or transpose() first")
    }
    val schema = StructType(
      dims.map(d => StructField(d, LongType, nullable = false)) ++
        varNames.map(v => StructField(v, sparkTypeOf(template.vars(v).dtype),
          nullable = false)))
    val isFloat = varNames.map(v => template.vars(v).dtype match {
      case DType.F32 | DType.F64 => true
      case _ => false
    })
    implicit val rowEnc = Encoders.row(schema)
    xds.chunkDataset.flatMap { p: (ChunkKey, ArrayChunk) =>
      val (key, chunk) = p
      val first = chunk.vars(varNames.head)
      val shape = first.arr.shape
      val n = first.arr.size
      val offsets = dims.map(d => key.offsets.getOrElse(d, 0L)).toArray
      val arrs = varNames.map(chunk.vars(_).arr).toArray
      val idx = new Array[Int](shape.length)
      // lazy row iterator — a chunk's rows stream straight into the
      // downstream operator instead of materializing per-chunk vectors
      new Iterator[Row] {
        private var flat = 0L
        override def hasNext: Boolean = flat < n
        override def next(): Row = {
          val vals = new Array[Any](dims.length + varNames.length)
          var d = 0
          while (d < dims.length) { vals(d) = offsets(d) + idx(d); d += 1 }
          var v = 0
          while (v < arrs.length) {
            vals(dims.length + v) =
              if (isFloat(v)) arrs(v).getDouble(flat) else arrs(v).getLong(flat)
            v += 1
          }
          var k = shape.length - 1
          var carry = true
          while (k >= 0 && carry) {
            idx(k) += 1
            if (idx(k) == shape(k)) { idx(k) = 0; k -= 1 } else carry = false
          }
          flat += 1
          Row.fromSeq(vals.toIndexedSeq)
        }
      }
    }.toDF()
  }

  /** Build a chunked dataset from rows: each row gives its global dim
    * indices + variable values; rows are grouped by their chunk key
    * (one shuffle on the deterministic key) and assembled into dense
    * blocks. Absent positions get `fill`. */
  def fromDataFrame(df: DataFrame, spark: SparkSession,
                    dims: Seq[(String, Long)],
                    vars: Seq[(String, DType)],
                    chunks: Map[String, Int],
                    fill: Double = Double.NaN): XbeamDataset = {
    import ChunkTransforms.pairEnc
    import org.apache.spark.sql.functions.{col, collect_list, expr, struct}
    val dimNames = dims.map(_._1)
    val dimSizes = dims.toMap
    val normalized = ChunkGrid.normalizeChunks(chunks, dimSizes)
    // Chunk/cell addressing as codegen'd Catalyst expressions, all-Long
    // integer arithmetic (`div`, least) — exact at any index, identical
    // fold order to ChunkGrid.keyForIndex:
    //   shuffle key = flat chunk index (8 bytes; a per-row canonical
    //   string key would allocate and hash the dim names once per ROW —
    //   untenable at 10^11 rows);
    //   flat = row-major cell index inside its (possibly edge-truncated)
    //   chunk.
    // This replaces the previous typed map over external Rows: the key
    // math, the cell struct, and the per-chunk grouping now stay inside
    // Tungsten with whole-stage codegen and a partially-aggregated
    // collect_list, so the typed boundary is crossed once per CHUNK
    // (assembly into dense NdArrays), not once per row — measured ~2x
    // on the bridge-heavy gates at sf0.1.
    var chunkIdxSql = "0L"
    var flatSql = "0L"
    dims.foreach { case (d, size) =>
      val c = normalized(d)
      val off = s"((`$d` div ${c}L) * ${c}L)"
      val len = s"least(${c}L, ${size}L - $off)"
      val nch = (size + c - 1) / c
      chunkIdxSql = s"(($chunkIdxSql) * ${nch}L + ($off div ${c}L))"
      flatSql = s"(($flatSql) * ($len) + (`$d` - $off))"
    }
    // Cell values keep their NATIVE column types through the shuffle:
    // integer dtypes as BIGINT (a via-double path would silently round
    // |v| > 2^53 — e.g. hash-derived ids; pinned by XbeamDatasetSpec's
    // Long.MaxValue round-trip), float dtypes as DOUBLE (IEEE bits are
    // preserved exactly). coalesce pins the legacy null behavior
    // (null -> NaN for floats, 0 for ints) so fields are never null.
    val cellCols = vars.map { case (n, dt) =>
      dt match {
        case DType.F32 | DType.F64 =>
          expr(s"coalesce(cast(`$n` AS double), cast('NaN' AS double))").as(n)
        case _ =>
          expr(s"coalesce(cast(`$n` AS bigint), 0L)").as(n)
      }
    }
    // collect_list buffers ONE CHUNK's cells in a single aggregation
    // buffer (a single UnsafeArrayData row per chunk, bounded by the
    // ~2 GB BufferHolder limit). That is safe — and cheap relative to a
    // sort-based assembly — exactly because chunks are bounded: the
    // reference's own contract caps a chunk at 2 GB of payload, and our
    // cell struct is <= 8 bytes flat index + 8 bytes per variable, so a
    // conforming chunk's buffer stays well under the row limit. Guard it
    // explicitly so an oversized chunk spec fails at PLAN time with a
    // real message instead of a mid-shuffle buffer-growth error. The
    // products saturate at Long.MaxValue: a wrapped one could pass.
    locally {
      def mul(a: Long, b: Long): Long =
        try math.multiplyExact(a, b)
        catch { case _: ArithmeticException => Long.MaxValue }
      val cells = dims.map { case (d, size) => math.min(normalized(d).toLong, size) }
        .foldLeft(1L)(mul)
      val bytesPerCell = 8L * (1 + vars.length)
      require(mul(cells, bytesPerCell) <= (1L << 31) - 16,
        s"fromDataFrame chunk ${normalized} holds $cells cells x " +
          s"$bytesPerCell B per assembly buffer — beyond the 2 GB " +
          "single-row aggregation limit (and the 2 GB chunk contract); " +
          "use smaller chunks")
    }
    val grouped = df.select(
        expr(chunkIdxSql).as("__ck"),
        struct(expr(flatSql).as("__flat") +: cellCols: _*).as("__cell"))
      .groupBy(col("__ck"))
      .agg(collect_list(col("__cell")).as("__cells"))
    val dimsB = dims
    val varsB = vars
    val normB = normalized
    val dimSizesB = dimSizes
    val fillB = fill
    val pairs = grouped.map { row =>
      val chunkIdx = row.getLong(0)
      val key = ChunkGrid.keyForIndex(chunkIdx, dimsB.map(_._1), normB, dimSizesB)
      val shape = dimsB.map { case (d, size) =>
        val c = normB(d)
        math.min(c.toLong, size - key.offsets(d)).toInt
      }.toArray
      val arrays = varsB.map { case (_, dt) =>
        NdArray.fill(dt, shape, fillB)
      }
      val cells = row.getSeq[Row](1)
      cells.foreach { cell =>
        val flat = cell.getLong(0)
        varsB.indices.foreach { v =>
          varsB(v)._2 match {
            case DType.F32 | DType.F64 =>
              arrays(v).setDouble(flat, cell.getDouble(v + 1))
            case _ => arrays(v).setLong(flat, cell.getLong(v + 1))
          }
        }
      }
      (key, ArrayChunk(varsB.indices.map { v =>
        varsB(v)._1 -> VarArray(dimsB.map(_._1), arrays(v))
      }.toMap))
    }(pairEnc)
    val template = Template(dims,
      vars.map { case (n, dt) => n -> VarSpec(dimNames, dt) }.toMap,
      Map.empty, Map.empty)
    XbeamDataset.fromPairs(spark, template, normalized, pairs)
  }

}
