package graft.sources.zarr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

import graft.ndarray.DType
import graft.sources.{BlobStore, Zarr}

/** `df.writeStream.format("zarr")` — the streaming half of the DSv2
  * write surface (batch writes are `ZarrWrite`; streaming reads have
  * been `readStream.format("zarr")` via s08 all along). The reference
  * has no streaming story at all (beam batch only); this is the shape
  * a continuously-ingesting 100 TB store needs.
  *
  * Contract: the store MUST already exist with its template metadata
  * (the reference's eager-template `ChunksToZarr` contract,
  * zarr.py:637-821 — create it with `toZarr` / batch `overwrite`
  * first). Each micro-batch's rows are cells: integral dim columns
  * (named by the required `dims` option, in store dim order) plus one
  * column per data variable. Commit protocol, two-level like a real
  * lakehouse sink:
  *
  *  1. executors: each task buffers its cells per touched chunk and on
  *     task-commit stages ONE compact fragment per (task, chunk) under
  *     `<store>/.stream_stage/ep<epoch>/` — no read-modify-write, no
  *     cross-task coordination, any partitioning of the input works
  *     (no required clustering: a chunk's cells may arrive via many
  *     tasks and merge at commit);
  *  2. driver `commit(epoch)`: fragments group by chunk and a bounded
  *     pool merges each chunk once — read existing region (fill value
  *     where never written), apply cells, region-write back. Chunks
  *     untouched by the epoch see zero IO.
  *
  * Exactly-once: region writes are idempotent and a replayed epoch
  * regenerates identical fragments, so replay after a partial commit
  * converges to the same bytes (the reference's idempotence argument,
  * zarr.py:591-633, lifted to micro-batches). Cells not mentioned by
  * any row keep their prior value — cell-level upsert with
  * chunk-granular merge. If duplicate rows target the same cell in one
  * epoch, the applied order across tasks is unspecified: give the sink
  * one row per cell (aggregate upstream), as with any keyed sink.
  */
class ZarrStreamingWrite(path: String, schema: StructType,
                         options: java.util.Map[String, String])
    extends StreamingWrite {

  private val grid: ZarrStreamGrid = {
    val dimsOpt = options.get("dims")
    require(dimsOpt != null && dimsOpt.nonEmpty,
      "streaming zarr write needs a dims option, e.g. .option(\"dims\", \"t,x\")")
    val dimNames = dimsOpt.split(",").map(_.trim).toSeq
    require(Zarr.storeExists(path),
      s"streaming zarr write appends into an EXISTING store; $path has " +
        "no zarr metadata — create the template first (toZarr or batch " +
        "overwrite write)")
    val sm = Zarr.openStore(path)
    val sizes = sm.dims.toMap
    dimNames.foreach(d => require(sizes.contains(d),
      s"store $path has no dim $d (dims: ${sm.dims.map(_._1).mkString(",")})"))
    val chunks = sm.inferChunks
    val fields = schema.fields
    val dimCols = dimNames.map { d =>
      val i = fields.indexWhere(_.name == d)
      require(i >= 0, s"stream schema has no dim column $d")
      require(fields(i).dataType == LongType || fields(i).dataType == IntegerType,
        s"dim column $d must be integral, got ${fields(i).dataType}")
      (i, fields(i).dataType == IntegerType)
    }
    val varCols = fields.zipWithIndex
      .filterNot { case (f, _) => dimNames.contains(f.name) }
      .map { case (f, i) =>
        val meta = sm.dataVars.getOrElse(f.name, throw new IllegalArgumentException(
          s"store $path has no variable ${f.name} " +
            s"(vars: ${sm.dataVars.keys.mkString(",")})"))
        require(meta.dims == dimNames,
          s"variable ${f.name} spans ${meta.dims.mkString(",")} but the " +
            s"stream writes ${dimNames.mkString(",")} — orders must match")
        // column accessor code: 0=double, 1=float, 2=long, 3=int — the
        // writer must read each UnsafeRow slot with the EXACT column
        // type (a FloatType field occupies the low 4 bytes of its
        // slot; getDouble would reinterpret the bits)
        val code = f.dataType match {
          case DoubleType  => 0
          case FloatType   => 1
          case LongType    => 2
          case IntegerType => 3
          case other => throw new IllegalArgumentException(
            s"variable column ${f.name} must be numeric, got $other")
        }
        // dtype families compare exactly: the merge kernel carries
        // cells as full-width double/long, so the store side must be
        // F64 (float columns, lossless widen) or I64 (integral
        // columns) — an F32/I32/I16 store variable would silently
        // narrow on merge and is rejected loudly instead
        // the sink writes DECODED-space values; an encoded store layout
        // (CF packing/time, non-ns datetime, widened dtypes) would make
        // those bytes mean something else to every reader — and the
        // write-side refusal would only fire at the first epoch commit,
        // after the stream started. Fail fast at sink construction.
        require(meta.cfScale.isEmpty && meta.cfFill.isEmpty &&
          meta.cfTime.isEmpty && meta.timeUnitNs == 1L &&
          meta.widenFrom.isEmpty,
          s"variable ${f.name}: store array is encoded (CF packing/" +
            "time, non-ns datetime, or a widened dtype) — the streaming " +
            "sink writes raw decoded values and cannot re-encode")
        val decoded = Zarr.decodedDType(meta)
        if (code <= 1) require(decoded == DType.F64,
          s"variable ${f.name}: float column ${f.dataType} needs an " +
            s"f8/F64-decoding store variable, got ${meta.dtype.zarr} " +
            "(narrowing on merge would lose precision)")
        else require(decoded == DType.I64,
          s"variable ${f.name}: integral column ${f.dataType} needs an " +
            s"i8/I64 store variable, got ${meta.dtype.zarr} " +
            "(narrowing on merge would lose precision)")
        (f.name, i, code)
      }.toSeq
    require(varCols.nonEmpty, "stream schema has no variable columns")
    val maxCells = Option(options.get("maxBufferedCells"))
      .map(_.toLong).getOrElse(16L * 1024 * 1024)
    ZarrStreamGrid(path, dimNames,
      dimNames.map(sizes).toArray,
      dimNames.map(d => chunks(d)).toArray,
      dimCols.map(_._1).toArray, dimCols.map(_._2).toArray,
      varCols.map(_._1).toArray, varCols.map(_._2).toArray,
      varCols.map(_._3).toArray, maxCells)
  }

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    // driver-vended store config/credentials ride the factory into
    // forked executor JVMs (sys.props do not cross process boundaries)
    new ZarrStreamWriterFactory(grid, graft.sources.GraftProps.snapshot())

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val frags = messages.collect {
      case m: ZarrStreamCommitMessage => m.frags
    }.flatten
    if (frags.isEmpty) return
    // a cell upsert would make any recorded min/max sidecar lie —
    // tombstone it BEFORE touching data, same contract as batch append
    // (XbeamDataset.toZarr) and extendDim
    graft.sources.zarr.ChunkStats.invalidate(path)
    val sm = Zarr.openStore(path)
    val byChunk = frags.groupBy(_.chunkId)
    val threads = math.max(1, math.min(8, byChunk.size))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = byChunk.toSeq.map { case (_, fs) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = ZarrStreamFormat.mergeChunk(
            path, sm, grid, fs.map(_.url))
        })
      }
      futures.foreach(_.get()) // propagate the first failure
    } finally pool.shutdown()
    // best-effort stage cleanup (local stores only; orphaned fragments
    // on object stores sit under .stream_stage and are never read)
    val isLocal = !path.contains("://") || path.startsWith("file://")
    if (isLocal) {
      val stage = java.nio.file.Paths.get(
        BlobStore.stripScheme(path), ".stream_stage", s"ep$epochId")
      graft.core.Fs.deleteRecursively(stage)
    }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = ()
}

/** Serializable grid spec shipped to stream writer tasks. */
final case class ZarrStreamGrid(path: String, dimNames: Seq[String],
                                dimSizes: Array[Long], chunkPerDim: Array[Int],
                                dimColIdx: Array[Int], dimColIsInt: Array[Boolean],
                                varNames: Array[String], varColIdx: Array[Int],
                                varColCode: Array[Int], maxCells: Long) {
  /** Store-side cell family: float vars carry double raw bits in the
    * fragment cells, integral vars carry the long itself. */
  def varIsFloat(v: Int): Boolean = varColCode(v) <= 1
}

final case class ZarrStreamFrag(chunkId: String, url: String)

final case class ZarrStreamCommitMessage(frags: Seq[ZarrStreamFrag])
    extends WriterCommitMessage

class ZarrStreamWriterFactory(grid: ZarrStreamGrid,
                              ambient: Map[String, String] = Map.empty)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    graft.sources.GraftProps.restore(ambient)
    new ZarrStreamDataWriter(grid, partitionId, taskId, epochId)
  }
}

/** Per-task cell buffer: cells pack as (localFlat, one long per var —
  * raw bits for float vars) grouped by chunk; task commit stages one
  * fragment file per touched chunk. */
class ZarrStreamDataWriter(grid: ZarrStreamGrid, partitionId: Int,
                           taskId: Long, epochId: Long)
    extends DataWriter[InternalRow] {
  private final class ChunkCells(val offsets: Array[Long],
                                 val localShape: Array[Int]) {
    val cells = scala.collection.mutable.ArrayBuffer.empty[Long]
  }
  private val chunks = scala.collection.mutable.HashMap.empty[String, ChunkCells]
  private var nCells = 0L
  private val nd = grid.dimNames.length

  override def write(row: InternalRow): Unit = {
    val offsets = new Array[Long](nd)
    val local = new Array[Int](nd)
    var d = 0
    while (d < nd) {
      val c = grid.dimColIdx(d)
      require(!row.isNullAt(c), s"null dim value for ${grid.dimNames(d)}")
      val idx = if (grid.dimColIsInt(d)) row.getInt(c).toLong else row.getLong(c)
      require(idx >= 0 && idx < grid.dimSizes(d),
        s"dim ${grid.dimNames(d)} index $idx outside [0, ${grid.dimSizes(d)})")
      offsets(d) = idx / grid.chunkPerDim(d) * grid.chunkPerDim(d)
      local(d) = (idx - offsets(d)).toInt
      d += 1
    }
    val key = offsets.mkString("_")
    val cc = chunks.getOrElseUpdate(key, {
      val shape = Array.tabulate(nd)(k => math.min(
        grid.chunkPerDim(k).toLong, grid.dimSizes(k) - offsets(k)).toInt)
      new ChunkCells(offsets, shape)
    })
    var flat = 0L
    d = 0
    while (d < nd) { flat = flat * cc.localShape(d) + local(d); d += 1 }
    cc.cells += flat
    var v = 0
    while (v < grid.varNames.length) {
      val c = grid.varColIdx(v)
      require(!row.isNullAt(c), s"null value for ${grid.varNames(v)}")
      cc.cells += (grid.varColCode(v) match {
        case 0 => java.lang.Double.doubleToRawLongBits(row.getDouble(c))
        case 1 => java.lang.Double.doubleToRawLongBits(row.getFloat(c).toDouble)
        case 2 => row.getLong(c)
        case _ => row.getInt(c).toLong
      })
      v += 1
    }
    nCells += 1
    require(nCells <= grid.maxCells,
      s"stream writer task buffered more than ${grid.maxCells} cells — " +
        "aggregate upstream or raise the maxBufferedCells option")
  }

  override def commit(): WriterCommitMessage = {
    val store = BlobStore.forUrl(grid.path)
    val frags = chunks.toSeq.map { case (key, cc) =>
      val url = s"${grid.path}/.stream_stage/ep$epochId/$key/" +
        s"p${partitionId}_t${taskId}_${java.util.UUID.randomUUID}.frag"
      store.write(url, ZarrStreamFormat.encode(grid, cc.offsets,
        cc.localShape, cc.cells.toArray))
      ZarrStreamFrag(key, url)
    }
    chunks.clear()
    ZarrStreamCommitMessage(frags)
  }

  override def abort(): Unit = chunks.clear()
  override def close(): Unit = ()
}

object ZarrStreamFormat {
  private val MAGIC = 0x5a534631 // "ZSF1"

  def encode(grid: ZarrStreamGrid, offsets: Array[Long],
             localShape: Array[Int], cells: Array[Long]): Array[Byte] = {
    val nd = offsets.length
    val nVars = grid.varNames.length
    val nCells = cells.length / (1 + nVars)
    val buf = java.nio.ByteBuffer.allocate(
      4 + 4 + nd * 12 + 4 + 4 + cells.length * 8)
    buf.putInt(MAGIC).putInt(nd)
    offsets.foreach(buf.putLong)
    localShape.foreach(buf.putInt)
    buf.putInt(nVars).putInt(nCells)
    cells.foreach(buf.putLong)
    buf.array()
  }

  /** Merge all of one chunk's fragments: read the existing region
    * (store fill where never written), apply every cell, region-write
    * back. One read + one write per (chunk, var) per epoch. */
  def mergeChunk(path: String, sm: Zarr.StoreMeta, grid: ZarrStreamGrid,
                 fragUrls: Seq[String]): Unit = {
    val store = BlobStore.forUrl(path)
    val parsed = fragUrls.map { u =>
      val buf = java.nio.ByteBuffer.wrap(store.read(u))
      require(buf.getInt == MAGIC, s"bad stream fragment $u")
      val nd = buf.getInt
      val offsets = Array.fill(nd)(buf.getLong)
      val localShape = Array.fill(nd)(buf.getInt)
      val nVars = buf.getInt
      require(nVars == grid.varNames.length,
        s"fragment $u has $nVars vars, expected ${grid.varNames.length}")
      val nCells = buf.getInt
      val cells = Array.fill(nCells * (1 + nVars))(buf.getLong)
      (offsets, localShape, cells)
    }
    val (offsets, localShape, _) = parsed.head
    val stride = 1 + grid.varNames.length
    var v = 0
    while (v < grid.varNames.length) {
      val name = grid.varNames(v)
      val meta = sm.dataVars(name)
      val arr = Zarr.readRegion(path, name, meta, offsets, localShape)
      val isFloat = grid.varIsFloat(v)
      parsed.foreach { case (_, _, cells) =>
        var i = 0
        while (i < cells.length) {
          val flat = cells(i)
          val bits = cells(i + 1 + v)
          if (isFloat) arr.setDouble(flat, java.lang.Double.longBitsToDouble(bits))
          else arr.setLong(flat, bits)
          i += stride
        }
      }
      Zarr.writeRegion(path, name, meta, offsets, arr)
      v += 1
    }
  }
}
