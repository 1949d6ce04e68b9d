package graft.sources.zarr

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ndarray.DType

/** `df.write.format("zarr")` — the write half of the DSv2 connector,
  * completing the SQL surface (reads have been `spark.read.format
  * ("zarr")` all along). Implemented as a V1-fallback write
  * (TableCapability.V1_BATCH_WRITE): the InsertableRelation hands us
  * the whole DataFrame and we delegate to the SAME distributed pipeline
  * the typed API uses — TabularBridge.fromDataFrame's one keyed shuffle
  * on the flat chunk index, then toZarr's idempotent region writes. A
  * native BatchWrite would need RequiresDistributionAndOrdering to
  * express "cluster by floor(dim/chunk)" and gains nothing over the
  * bridge's own shuffle, so the fallback is the honest choice.
  *
  * Options:
  *   - `dims` (required): ordered dim column names, e.g. "t,x". Dim
  *     columns must be integral (the tabular projection's global
  *     indices).
  *   - `sizes` (optional): "t=96,x=50" — dim extents; missing dims are
  *     inferred as max(index)+1 with one small aggregate job.
  *   - `chunks` (optional): "t=16" — stored chunk per dim (missing
  *     dims: full extent).
  *   - `compressor` / `format` / `shards` / `stats`: forwarded to
  *     toZarr (zlib/gzip/zstd/blosc[...], 2 or 3, "t=32", boolean).
  *
  * Modes: `overwrite` sets up a fresh store (local targets are cleared
  * first — region keys from an older grid must not linger); `append`
  * region-writes into an existing store's metadata
  * (toZarr(needsSetup=false) — the chunk-aligned append contract).
  * All other columns become variables: integral -> int64, floating ->
  * float64, anything else rejects loudly.
  */
class ZarrWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate
    // Update-mode streaming output is welcome: the streaming sink is a
    // cell-level UPSERT (each epoch's rows overwrite their cells), so a
    // watermarked running aggregate converges to its final value — the
    // exact semantics update-as-append asks the sink to provide
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: Dataset[Row], ov: Boolean): Unit =
          ZarrWrite.run(path, info.options(), data, overwrite || ov)
      }
    // the streaming half: df.writeStream.format("zarr") — fragment
    // staging + epoch-commit chunk merge (ZarrStreamWrite.scala)
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new ZarrStreamingWrite(path, info.schema(), info.options())
  }
}

object ZarrWrite {

  private def parseIntMap(s: String, what: String): Map[String, Int] =
    s.split(",").filter(_.nonEmpty).map { kv =>
      val parts = kv.split("=")
      require(parts.length == 2, s"bad $what entry '$kv' (want name=value)")
      parts(0).trim -> parts(1).trim.toInt
    }.toMap

  def run(path: String, options: CaseInsensitiveStringMap,
          data: Dataset[Row], overwrite: Boolean): Unit = {
    import org.apache.spark.sql.functions.{col, max}
    val spark = data.sparkSession
    // an EXISTING store knows its own dim order, so appends into it
    // (e.g. INSERT INTO a catalog table, which carries no write
    // options) don't need the dims option; fresh-store writes do
    val dimsOpt = Option(options.get("dims"))
      .orElse(if (!overwrite && graft.sources.Zarr.storeExists(path))
        Some(graft.sources.Zarr.openStore(path).template.dimOrder.mkString(","))
      else None)
      .getOrElse(throw new IllegalArgumentException(
        "zarr write requires option 'dims': ordered dim column names, " +
          "e.g. .option(\"dims\", \"t,x\")"))
    val dimNames = dimsOpt.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val schema = data.schema
    dimNames.foreach { d =>
      require(schema.fieldNames.contains(d), s"dim column $d not in ${schema.fieldNames.toSeq}")
      require(schema(d).dataType == LongType || schema(d).dataType == IntegerType,
        s"dim column $d must be integral (global index), got ${schema(d).dataType}")
    }
    val varFields = schema.fields.filterNot(f => dimNames.contains(f.name))
    require(varFields.nonEmpty, "zarr write needs at least one variable column")
    val vars: Seq[(String, DType)] = varFields.toSeq.map { f =>
      f.dataType match {
        case LongType | IntegerType | ShortType | ByteType => f.name -> DType.I64
        case DoubleType | FloatType => f.name -> DType.F64
        case other => throw new IllegalArgumentException(
          s"variable column ${f.name}: unsupported type $other " +
            "(integral and floating columns only)")
      }
    }
    // normalize the frame to the bridge's exact expectations
    val normalized = data.select(
      (dimNames.map(d => col(d).cast(LongType).as(d)) ++
        vars.map { case (n, dt) =>
          if (dt == DType.I64) col(n).cast(LongType).as(n)
          else col(n).cast(DoubleType).as(n)
        }): _*)
    val declared = Option(options.get("sizes"))
      .map(s => parseIntMap(s, "sizes").map { case (k, v) => k -> v.toLong })
      .getOrElse(Map.empty[String, Long])
    (declared.keySet -- dimNames).foreach { d =>
      throw new IllegalArgumentException(s"sizes names unknown dim $d")
    }
    val toInfer = dimNames.filterNot(declared.contains)
    val inferred: Map[String, Long] =
      if (toInfer.isEmpty) Map.empty
      else {
        val row = normalized
          .agg(max(col(toInfer.head)), toInfer.tail.map(d => max(col(d))): _*)
          .head()
        toInfer.zipWithIndex.map { case (d, i) =>
          require(!row.isNullAt(i), s"cannot infer size of dim $d from an empty frame")
          d -> (row.getLong(i) + 1)
        }.toMap
      }
    val dims: Seq[(String, Long)] = dimNames.map(d =>
      d -> declared.getOrElse(d, inferred(d)))
    val chunks = Option(options.get("chunks"))
      .map(s => parseIntMap(s, "chunks")).getOrElse(Map.empty)
    (chunks.keySet -- dimNames).foreach { d =>
      throw new IllegalArgumentException(s"chunks names unknown dim $d")
    }
    val compressor = Option(options.get("compressor")).filter(_.nonEmpty)
    val format = Option(options.get("format")).map(_.toInt).getOrElse(2)
    val shards = Option(options.get("shards"))
      .map(s => parseIntMap(s, "shards")).getOrElse(Map.empty)
    val stats = options.getBoolean("stats", false)
    if (overwrite) {
      // region keys from an older chunk grid must not linger under the
      // new metadata — clear local targets; refuse a non-empty remote
      // prefix (object stores are delete-free here)
      val bare = graft.sources.BlobStore.stripScheme(path)
      val isLocal = !path.contains("://") || path.startsWith("file://")
      val p = java.nio.file.Paths.get(bare)
      if (isLocal && java.nio.file.Files.exists(p)) {
        // the recursive delete only ever targets a zarr store (or an
        // empty directory): a mistyped path pointing at arbitrary data
        // must fail loudly, not be wiped
        val isEmptyDir = java.nio.file.Files.isDirectory(p) && {
          val s = java.nio.file.Files.list(p)
          try !s.iterator().hasNext finally s.close()
        }
        require(isEmptyDir || graft.sources.Zarr.storeExists(path),
          s"overwrite target $path exists but is not a zarr store — " +
            "refusing to delete it; remove it yourself or pick another path")
        graft.core.Fs.deleteRecursively(p)
      } else if (!isLocal) {
        require(!graft.sources.Zarr.storeExists(path),
          s"overwrite into existing remote store $path is not supported " +
            "(no delete on object stores) — write to a fresh prefix")
      }
    } else {
      require(graft.sources.Zarr.storeExists(path),
        s"append mode needs an existing store at $path — use " +
          "mode(\"overwrite\") to create one")
    }
    // chunk defaults: append takes the STORE's own grid so the frame's
    // rows only materialize (and region-write) the chunks they cover —
    // a full-extent default here would assemble one giant chunk and
    // NaN-overwrite everything the rows don't mention. Overwrite
    // defaults to full-extent dims (explicit `chunks` is the norm).
    val effChunks: Map[String, Int] =
      if (chunks.nonEmpty) chunks
      else if (!overwrite) graft.sources.Zarr.openStore(path).inferChunks
      else dims.map { case (d, sz) =>
        require(sz <= Int.MaxValue,
          s"dim $d extent $sz needs an explicit chunks option")
        d -> sz.toInt
      }.toMap
    val xds = graft.api.TabularBridge.fromDataFrame(
      normalized, spark, dims, vars, effChunks)
    if (overwrite)
      xds.toZarr(path, compressor = compressor, zarrFormat = format,
        zarrShards = shards, stats = stats)
    else {
      require(compressor.isEmpty && shards.isEmpty && !stats &&
        options.get("format") == null,
        "append mode takes storage parameters from the existing store — " +
          "do not pass compressor/format/shards/stats")
      xds.toZarr(path, needsSetup = false)
    }
  }
}
