package graft.sources

import java.io.ByteArrayOutputStream
import java.util.zip.{Deflater, Inflater}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.core.{Template, VarSpec}
import graft.ndarray.{DType, NdArray}

/** Zarr store IO, from scratch (no JVM Zarr lib is bundled), v2 and v3:
  *
  *   - v2: JSON metadata (.zgroup/.zarray/.zattrs/.zmetadata), raw,
  *     zlib, gzip, or blosc chunk files ([[Blosc]] — numcodecs'
  *     default), '.'-separated chunk names, xarray's
  *     `_ARRAY_DIMENSIONS` convention for dimension names;
  *   - v3: `zarr.json` node metadata (regular chunk grid, default
  *     chunk-key encoding with "/" or "." separators → `c/0/1` keys),
  *     native `dimension_names`, `bytes`(little-endian) + optional
  *     `gzip`/`blosc` codecs, and `sharding_indexed` shards (read +
  *     write, crc32c-checked inner-chunk index).
  *
  * C order, little-endian throughout. Mirrors the reference's open_zarr
  * (zarr.py:48-96), setup_zarr (zarr.py:389-459) and region writes
  * (zarr.py:591-633): the driver writes metadata + eager coordinate
  * arrays once, executors write only data regions aligned to the stored
  * chunk grid — idempotent under task retry, exactly the property the
  * reference relies on (zarr.py:248-251).
  *
  * Scale note: all IO goes through [[BlobStore]], a whole-blob
  * object-store interface (local FS today; GCS/S3 slot in via scheme
  * dispatch). Driver-side store setup batches its many tiny metadata
  * writes through [[StagedWrites]] — the reference's `stage_locally`
  * metadata staging (zarr.py:463-513).
  */
object Zarr {
  private val mapper = new ObjectMapper()

  /** Metadata of one stored array. `format` is the zarr spec version
    * (2 or 3); `keySep` only applies to v3 chunk keys. When
    * `shardChunks` is set (v3 sharding_indexed), `chunks` is the SHARD
    * shape — the unit addressed by chunk keys — and `shardChunks` the
    * inner chunk shape encoded inside each shard file. */
  /** `cfScale` carries CF packing attrs (scale_factor, add_offset) when
    * present: stored integers decode to `v * scale + offset` doubles —
    * xarray's default decode_cf behavior, which the reference inherits
    * on every open_zarr (zarr.py:72-96).
    *
    * `keySep` separates chunk-key coordinates: v2 defaults to "."
    * (flat "0.1" files; `dimension_separator: "/"` nests them), v3
    * constructions must pass "/" (the default `c/0/1` encoding). */
  /** `transposeOrder` carries the v3 `transpose` array→array codec's
    * permutation when present: stored chunk bytes are laid out C-order
    * over the PERMUTED chunk shape and inverse-permute on read
    * (read-only — writes into such stores are rejected loudly). */
  /** `cfTime` carries CF time-encoding attrs (`units: "<unit> since
    * <timestamp>"` on an integer/float array — how stock xarray writes
    * EVERY datetime coordinate to zarr): stored values decode to
    * epoch-ns `epochNs + v * unitNs` datetime64[ns] (read-only; writes
    * into such arrays are refused like other encoded layouts).
    * `timeUnitNs` scales non-nanosecond raw datetime dtypes
    * (`<M8[s]`, `<M8[us]`, ...) to ns on read; 1 means already-ns. */
  final case class ArrayMeta(shape: Seq[Long], chunks: Seq[Int], dtype: DType,
                             dims: Seq[String], compressor: Option[String],
                             fillValue: Double, format: Int = 2,
                             keySep: String = ".",
                             shardChunks: Option[Seq[Int]] = None,
                             cfScale: Option[(Double, Double)] = None,
                             cfFill: Option[Double] = None,
                             bigEndian: Boolean = false,
                             transposeOrder: Option[Seq[Int]] = None,
                             deltaFilter: Boolean = false,
                             fsoFilter: Option[FsoFilter] = None,
                             cfTime: Option[CfTime] = None,
                             timeUnitNs: Long = 1L,
                             widenFrom: Option[String] = None,
                             stringDType: Option[StringDType] = None,
                             cfCalTime: Option[CfCalTime] = None)

  /** String array encodings (read-only, 1-D coordinate arrays only):
    * stock xarray stores routinely carry station names / labels /
    * member ids as fixed-width `|S<n>` bytes, fixed-width `<U<n>`
    * UCS-4, or numcodecs `vlen-utf8` object arrays — the reference
    * reads all three for free through numpy/zarr-python
    * (core.py:72-76: a chunk is any xarray.Dataset). The NdArray
    * kernel stays numeric; string arrays route through
    * [[Zarr.readStringCoord]] and every numeric path rejects them
    * loudly. */
  sealed trait StringDType extends Serializable
  object StringDType {
    /** numpy `|S<n>`: n bytes per element, right-padded with NULs. */
    final case class FixedS(width: Int) extends StringDType
    /** numpy `<U<n>`: n little-endian UCS-4 code points per element,
      * right-padded with zero code points. */
    final case class FixedU(width: Int) extends StringDType
    /** numcodecs VLenUTF8 over dtype `|O`: chunk payload is a LE
      * uint32 item count, then per item a LE uint32 byte length +
      * UTF-8 bytes. */
    case object VlenUtf8 extends StringDType
  }

  /** CF time encoding: stored number `v` is `epochNs + v * unitNs`
    * nanoseconds since the Unix epoch (proleptic-Gregorian UTC). */
  final case class CfTime(epochNs: Long, unitNs: Long)

  /** CF time encoding on a NON-GREGORIAN fixed-year calendar
    * (noleap / all_leap / 360_day — the CMIP time axes): values stay
    * RAW counts (they cannot map onto datetime64); `epoch` is the
    * reference instant on the calendar's own timeline
    * ([[CfCalendar.CalInstant]]) and `unitNs` the count unit. Calendar
    * kernels (timeField / resample) consume the tag; the array itself
    * reads as its plain numeric dtype. */
  final case class CfCalTime(calendar: String,
                             epoch: CfCalendar.CalInstant, unitNs: Long)

  /** Bytes-per-element as stored on disk — differs from
    * `dtype.itemsize` only for widened dtypes (`widenFrom`), where the
    * NdArray kernel carries a wider native type than the store. */
  def storedItemsize(meta: ArrayMeta): Int = meta.stringDType match {
    case Some(StringDType.FixedS(w)) => w
    case Some(StringDType.FixedU(w)) => 4 * w
    case Some(StringDType.VlenUtf8) => throw new IllegalArgumentException(
      "vlen-utf8 string arrays have no fixed itemsize (unsupported here: " +
        "zstd-compressed vlen chunks need a declared decoded size)")
    case None =>
      // every widening doubles the element width (u2→i4, u4→i8, f2→f4),
      // so the stored size is derivable — no second dispatch to keep in
      // sync with widenBytes
      if (meta.widenFrom.isDefined) meta.dtype.itemsize / 2
      else meta.dtype.itemsize
  }

  /** numcodecs `FixedScaleOffset` (read-only): stored chunk bytes are
    * `astype` integers `round((x - offset) * scale)`; decode is
    * `stored / scale + offset` in float64 — the packed-float layout
    * climate archives use when CF attrs aren't in play. */
  final case class FsoFilter(offset: Double, scale: Double, astype: DType)

  final case class StoreMeta(dims: Seq[(String, Long)],
                             arrays: Map[String, ArrayMeta],
                             attrs: Map[String, String]) {
    /** Data variables = arrays that are not 1-d coordinates named after
      * their own dimension. */
    def dataVars: Map[String, ArrayMeta] =
      arrays.filterNot { case (n, m) => m.dims == Seq(n) }
    def coordVars: Map[String, ArrayMeta] =
      arrays.filter { case (n, m) => m.dims == Seq(n) }

    /** Common stored chunking over data vars (error on conflict, like
      * _infer_chunks, zarr.py:48-68). */
    def inferChunks: Map[String, Int] = {
      val m = scala.collection.mutable.Map[String, Int]()
      dataVars.foreach { case (name, am) =>
        am.dims.zip(am.chunks).foreach { case (d, c) =>
          m.get(d) match {
            case Some(prev) if prev != c => throw new IllegalArgumentException(
              s"inconsistent chunk sizes for dim $d: $prev vs $c (var $name)")
            case _ => m(d) = c
          }
        }
      }
      m.toMap
    }

    def template: Template = Template(
      dims,
      // readers see the CF-decoded dtype (packed int16 → float64)
      dataVars.map { case (n, m) => n -> VarSpec(m.dims, decodedDType(m)) },
      Map.empty, // coords loaded lazily via readCoord
      attrs)
  }

  // ------------------------------------------------------------------ read

  /** Whether `path` holds a zarr store (v2 or v3, consolidated or not)
    * — the existence probe write paths use before deciding between
    * setup and append. */
  def storeExists(path: String): Boolean = {
    val store = BlobStore.forUrl(path)
    val base = path.stripSuffix("/")
    store.exists(s"$base/.zmetadata") || store.exists(s"$base/zarr.json") ||
      store.exists(s"$base/.zgroup")
  }

  def openStore(path: String): StoreMeta = {
    val store = BlobStore.forUrl(path)
    // Consolidated-metadata fast path: one GET describes the whole
    // store — no listing, no per-array metadata reads. This is what
    // makes open cheap on object stores (and why .zmetadata exists).
    store.readIfExists(s"$path/.zmetadata") match {
      case Some(bytes) => return openConsolidated(mapper.readTree(bytes))
      case None =>
    }
    // v3 consolidated metadata: the root zarr.json embeds every array
    // node under consolidated_metadata.metadata (zarr-python's v3
    // analogue of .zmetadata) — again one GET for the whole store
    store.readIfExists(s"$path/zarr.json").foreach { rootBytes =>
      val root = mapper.readTree(rootBytes)
      val cm = root.get("consolidated_metadata")
      if (cm != null && cm.get("metadata") != null) {
        val md = cm.get("metadata")
        val names = {
          val it = md.fieldNames()
          val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next()
          b.result()
        }
        val arrays = names.filter { n =>
          val node = md.get(n)
          node.get("node_type") != null && node.get("node_type").asText == "array"
        }.map { n =>
          n -> readArrayMetaV3(n, mapper.writeValueAsBytes(md.get(n)))
        }.toMap
        val attrs = Option(root.get("attributes")).map(jsonToAttrs)
          .getOrElse(Map.empty[String, String])
        return StoreMeta(mergeDims(arrays), arrays, attrs)
      }
    }
    require(store.isContainer(path), s"not a zarr store: $path (on a " +
      "non-listable backend like http(s) the store must carry " +
      "consolidated metadata: .zmetadata or a v3 root zarr.json)")
    val arrays = store.listChildren(path)
      .filter(n => store.exists(s"$path/$n/.zarray") ||
        store.exists(s"$path/$n/zarr.json"))
      .map(name => name -> readArrayMeta(path, name)).toMap
    val dims = mergeDims(arrays)
    val attrs = {
      val zattrs = store.readIfExists(s"$path/.zattrs")
      val v3root = store.readIfExists(s"$path/zarr.json")
      if (zattrs.isDefined) jsonToAttrs(mapper.readTree(zattrs.get))
      else if (v3root.isDefined) {
        val n = mapper.readTree(v3root.get).get("attributes")
        if (n == null) Map.empty[String, String] else jsonToAttrs(n)
      } else Map.empty[String, String]
    }
    StoreMeta(dims, arrays, attrs)
  }

  /** Build StoreMeta from a parsed .zmetadata document. */
  private def openConsolidated(doc: JsonNode): StoreMeta = {
    val md = doc.get("metadata")
    require(md != null, "malformed .zmetadata: no metadata object")
    val names = {
      val it = md.fieldNames()
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val k = it.next()
        if (k.endsWith("/.zarray")) b += k.stripSuffix("/.zarray")
      }
      b.result()
    }
    val arrays = names.map { name =>
      name -> parseV2Meta(name, md.get(s"$name/.zarray"),
        Option(md.get(s"$name/.zattrs")))
    }.toMap
    val attrs = Option(md.get(".zattrs")).map(jsonToAttrs)
      .getOrElse(Map.empty[String, String])
    StoreMeta(mergeDims(arrays), arrays, attrs)
  }

  /** Union the per-array dim sizes, erroring on conflicts — shared by
    * both store-open paths so their semantics cannot diverge. */
  private def mergeDims(arrays: Map[String, ArrayMeta]): Seq[(String, Long)] = {
    val m = scala.collection.mutable.LinkedHashMap[String, Long]()
    arrays.toSeq.sortBy(_._1).foreach { case (name, am) =>
      am.dims.zip(am.shape).foreach { case (d, s) =>
        m.get(d) match {
          case Some(prev) if prev != s => throw new IllegalArgumentException(
            s"inconsistent size for dim $d: $prev vs $s (var $name)")
          case _ => m(d) = s
        }
      }
    }
    m.toSeq
  }

  def readArrayMeta(path: String, name: String): ArrayMeta = {
    val store = BlobStore.forUrl(path)
    val v3Bytes = store.readIfExists(s"$path/$name/zarr.json")
    if (v3Bytes.isDefined) return readArrayMetaV3(name, v3Bytes.get)
    val za = mapper.readTree(store.read(s"$path/$name/.zarray"))
    val zattrs = store.readIfExists(s"$path/$name/.zattrs").map(mapper.readTree)
    parseV2Meta(name, za, zattrs)
  }

  /** Build a v2 ArrayMeta from its (.zarray, .zattrs) JSON nodes —
    * shared by per-file reads and the consolidated-metadata path. */
  private def parseV2Meta(name: String, za: JsonNode,
                          zattrs: Option[JsonNode]): ArrayMeta = {
    val dims: Seq[String] = zattrs match {
      case Some(at) =>
        val dn = at.get("_ARRAY_DIMENSIONS")
        if (dn != null && dn.isArray)
          (0 until dn.size).map(i => dn.get(i).asText)
        else Seq.empty
      case None => Seq.empty
    }
    val cfScale = zattrs.flatMap(cfScaleOf)
    val shape = (0 until za.get("shape").size).map(i => za.get("shape").get(i).asLong)
    val chunks = (0 until za.get("chunks").size).map(i => za.get("chunks").get(i).asInt)
    val comp = za.get("compressor") match {
      case null => None
      case n if n.isNull => None
      case n if n.get("id").asText == "blosc" =>
        // reconstruct the full spec ("blosc:<cname>[:bit]") so WRITES
        // into this store (appends, region rewrites) re-encode with the
        // store's own cname + filter; decode self-describes either way
        val cname = Option(n.get("cname")).map(_.asText).getOrElse("lz4")
        val bit = Option(n.get("shuffle")).exists(_.asInt == 2)
        Some(s"blosc:$cname" + (if (bit) ":bit" else ""))
      case n => Some(n.get("id").asText)
    }
    val fill = za.get("fill_value") match {
      case null => 0.0
      case n if n.isNull => 0.0
      case n if n.isTextual => n.asText match {
        case "NaN" => Double.NaN
        case "Infinity" => Double.PositiveInfinity
        case "-Infinity" => Double.NegativeInfinity
        case other =>
          // string dtypes carry string/base64 fills; readStringCoord
          // fills absent chunks with "" — a NON-empty declared fill
          // cannot be honored and must reject loudly (mapping it to ""
          // would be a silent wrong read on a missing chunk)
          if ("""^[|<>][SUO]""".r.findFirstIn(za.get("dtype").asText).isDefined) {
            require(other.isEmpty,
              s"array $name declares non-empty string fill_value " +
                s"'$other' — absent chunks would silently read as \"\"")
            0.0
          } else other.toDouble
      }
      case n => n.asDouble
    }
    val resolvedDims = if (dims.nonEmpty) dims
      else if (shape.isEmpty) Seq.empty
      else if (shape.length == 1) Seq(name)   // bare 1-d coord
      else throw new IllegalArgumentException(
        s"array $name lacks _ARRAY_DIMENSIONS")
    // v2's optional dimension_separator (zarr 2.8+): "/" nests chunk
    // files in directories; missing it would make every chunk look
    // absent and read as fill — a silent wrong read.
    val sep = Option(za.get("dimension_separator")).map(_.asText).getOrElse(".")
    require(sep == "." || sep == "/", s"bad dimension_separator $sep for $name")
    val dtypeStr = za.get("dtype").asText
    // String dtypes (|S / <U fixed width, |O + vlen-utf8): read-only,
    // 1-D coordinate arrays only — the stock-store layouts for station
    // names / labels / CMIP member ids. Detected before the filter
    // parse because vlen-utf8 arrives AS a v2 filter.
    val fixedSRe = """\|S(\d+)""".r
    val fixedURe = """[<|]U(\d+)""".r
    val stringDType: Option[StringDType] = dtypeStr match {
      case fixedSRe(w) => Some(StringDType.FixedS(w.toInt))
      case fixedURe(w) => Some(StringDType.FixedU(w.toInt))
      case "|O" =>
        val f = za.get("filters")
        require(f != null && !f.isNull && f.isArray && f.size == 1 &&
          f.get(0).get("id").asText == "vlen-utf8",
          s"array $name: object dtype |O is only readable with a single " +
            "vlen-utf8 filter declaring the byte layout")
        Some(StringDType.VlenUtf8)
      case s if s.startsWith(">U") || s.startsWith(">S") =>
        throw new IllegalArgumentException(
          s"array $name: big-endian string dtype $s is not supported")
      case _ => None
    }
    // Filters change the byte meaning, so anything we can't decode
    // exactly must fail loudly, not decode wrong. The one filter real
    // stores commonly carry is numcodecs `delta` (monotonic coordinate
    // arrays compress to near-nothing under it): stored values are
    // x[0], x[1]-x[0], ... in the array's own dtype, decoded by a
    // cumulative sum. Supported read-only, and ONLY when it neither
    // changes the dtype (astype, if present, must equal dtype) nor
    // chains with other filters.
    val filters = za.get("filters")
    var deltaFilter = false
    var fsoFilter: Option[FsoFilter] = None
    // fixed-width string dtypes never take numeric filters:
    // readStringCoord's pipeline is decompress-only, so a delta/fso
    // filter here would decode silently wrong labels — reject at parse
    require(stringDType.isEmpty ||
      stringDType.contains(StringDType.VlenUtf8) ||
      filters == null || filters.isNull,
      s"array $name: numcodecs filters on string dtype $dtypeStr are " +
        "not supported")
    if (filters != null && !filters.isNull &&
        !stringDType.contains(StringDType.VlenUtf8)) {
      require(filters.isArray && filters.size == 1,
        s"array $name uses unsupported zarr v2 filters ($filters) — " +
          "only a single delta or fixedscaleoffset filter is supported")
      val f = filters.get(0)
      val arrDt = za.get("dtype").asText
      f.get("id").asText match {
        case "delta" =>
          val fdt = Option(f.get("dtype")).map(_.asText)
          val astype = Option(f.get("astype")).filterNot(_.isNull).map(_.asText)
          require(fdt.forall(_ == arrDt) && astype.forall(_ == arrDt),
            s"array $name: delta filter dtype/astype (${fdt.orNull}/" +
              s"${astype.orNull}) must match the array dtype $arrDt")
          deltaFilter = true
        case "fixedscaleoffset" =>
          // stored bytes are `astype` integers of round((x-offset)*scale);
          // decode = stored/scale + offset in float64. Restricted to the
          // layout real archives use: little-endian float array dtype,
          // little-endian (or byte-wide) integer astype.
          val fdt = Option(f.get("dtype")).map(_.asText)
          require(fdt.forall(_ == arrDt),
            s"array $name: fixedscaleoffset dtype ${fdt.orNull} must match " +
              s"the array dtype $arrDt")
          require(arrDt == "<f8" || arrDt == "<f4",
            s"array $name: fixedscaleoffset only supported on little-endian " +
              s"float arrays, got $arrDt")
          val at = Option(f.get("astype")).filterNot(_.isNull).map(_.asText)
            .getOrElse(arrDt)
          require(!at.startsWith(">"),
            s"array $name: big-endian fixedscaleoffset astype $at unsupported")
          val scale = f.get("scale").asDouble
          require(scale != 0.0, s"array $name: fixedscaleoffset scale is 0")
          fsoFilter = Some(FsoFilter(f.get("offset").asDouble, scale,
            DType.fromZarr(at)))
        case other => throw new IllegalArgumentException(
          s"array $name uses unsupported zarr v2 filter $other — " +
            "only delta and fixedscaleoffset are supported")
      }
    }
    // Fortran-order chunks (scipy-era writers, some HDF5 converters)
    // are exactly the full-reversal case of the v3 transpose codec: an
    // F-order buffer of shape s IS the C-order buffer of the
    // axis-reversed array, so reads route through the same inverse
    // permutation. Writes into F-order stores stay refused (the
    // encodeBytes transpose guard).
    val order = Option(za.get("order")).map(_.asText).getOrElse("C")
    require(order == "C" || order == "F",
      s"array $name has unknown order $order (C or F)")
    val fOrder: Option[Seq[Int]] =
      if (order == "F" && shape.length > 1) Some(shape.indices.reverse)
      else None
    // big-endian stores (HDF5-converted data) read via a byte swap;
    // the in-memory representation stays little-endian throughout
    val bigEndian = stringDType.isEmpty && dtypeStr.startsWith(">")
    val littleStr = if (bigEndian) "<" + dtypeStr.substring(1) else dtypeStr
    // numpy non-ns datetime64 ("<M8[s]", "<M8[us]", ...): same i64
    // payload, scaled to ns on read (NaT = Long.MinValue passes
    // through). uint16/uint32/float16 — the packed layouts satellite
    // and reanalysis archives actually ship — widen losslessly to the
    // kernel's i4/i8/f4 right after decompression (read-only).
    val m8Re = """<M8\[(\w+)\]""".r
    val (dtype, timeUnitNs, widenFrom) =
      if (stringDType.isDefined) (DType.U8, 1L, None) // placeholder; every
      // numeric path guards on stringDType and rejects loudly
      else littleStr match {
      case "<M8[ns]" => (DType.TimeNs, 1L, None)
      case m8Re(unit) => (DType.TimeNs, m8UnitNs(unit).getOrElse(
        throw new IllegalArgumentException(
          s"array $name: unsupported datetime64 unit '$unit' in $dtypeStr" +
            " (fixed-duration codes ns/us/ms/s/m/h/D/W only — M/Y vary " +
            "by calendar and cannot map onto datetime64[ns])")),
        None)
      case "<u2" | "|u2" => (DType.I32, 1L, Some("<u2"))
      case "<u4" | "|u4" => (DType.I64, 1L, Some("<u4"))
      case "<f2" | "|f2" => (DType.F32, 1L, Some("<f2"))
      case other => (DType.fromZarr(other), 1L, None)
    }
    require(widenFrom.isEmpty || (!deltaFilter && fsoFilter.isEmpty),
      s"array $name: numcodecs filters on widened dtype $dtypeStr are " +
        "not supported (wraparound semantics differ after widening)")
    // string arrays: only as 1-D coordinates named after their own dim
    // (the station/label/member-id layout); string DATA variables would
    // need a string kernel dtype and stay loudly unsupported
    require(stringDType.isEmpty ||
      (shape.length == 1 && resolvedDims == Seq(name)),
      s"array $name: string dtype $dtypeStr is only supported for 1-D " +
        "coordinate arrays (read-only)")
    val (cfTime0, cfCalTime0) = zattrs.map(a => cfTimeTagsOf(a, name))
      .getOrElse((None, None))
    // M8 already IS datetime (units attr is then just metadata), and a
    // units attr on a string label array is plain metadata too
    val timeTagsApply = dtype != DType.TimeNs && stringDType.isEmpty
    val cfTime = cfTime0.filter(_ => timeTagsApply)
    val cfCalTime = cfCalTime0.filter(_ => stringDType.isEmpty)
    // a non-Gregorian calendar on a raw datetime64 dtype is malformed:
    // datetime64 IS Gregorian epoch time
    require(cfCalTime0.isEmpty || dtype != DType.TimeNs,
      s"array $name: non-Gregorian CF calendar on datetime64 dtype " +
        s"$dtypeStr is contradictory")
    require(cfTime.isEmpty || cfScale.isEmpty,
      s"array $name carries both CF time units and scale_factor/" +
        "add_offset — ambiguous encoding")
    require(cfCalTime.isEmpty || cfScale.isEmpty,
      s"array $name carries both CF calendar time units and " +
        "scale_factor/add_offset — ambiguous encoding")
    // a _FillValue on a calendar-tagged raw-count axis has no NaT
    // representation in count space; masking to NaN would float-detour
    // exact counts — reject loudly (CMIP time axes never carry fills)
    require(cfCalTime.isEmpty || zattrs.flatMap(cfFillOf).isEmpty,
      s"array $name: _FillValue on a non-Gregorian CF time axis is " +
        "not supported")
    // mirror of the cfTime+cfScale rejection: scale/offset on a raw
    // datetime64 dtype is the same ambiguity (decodeCf's generic CF
    // branch would float-detour epoch values that decodedDType reports
    // as TimeNs, and non-ns units would silently drop the scale)
    require(dtype != DType.TimeNs || cfScale.isEmpty,
      s"array $name carries scale_factor/add_offset on datetime64 " +
        s"dtype $dtypeStr — ambiguous encoding")
    ArrayMeta(shape, chunks, dtype, resolvedDims,
      comp, fill, keySep = sep,
      cfScale = if (stringDType.isDefined) None else cfScale,
      cfFill = if (stringDType.isDefined) None else zattrs.flatMap(cfFillOf),
      bigEndian = bigEndian, transposeOrder = fOrder,
      deltaFilter = deltaFilter, fsoFilter = fsoFilter,
      cfTime = cfTime, timeUnitNs = timeUnitNs, widenFrom = widenFrom,
      stringDType = stringDType, cfCalTime = cfCalTime)
  }

  /** CF packing attrs, when both or either are present (missing one
    * defaults per CF convention: scale 1.0, offset 0.0). */
  private def cfScaleOf(attrs: JsonNode): Option[(Double, Double)] = {
    val sf = Option(attrs.get("scale_factor")).filter(_.isNumber).map(_.asDouble)
    val ao = Option(attrs.get("add_offset")).filter(_.isNumber).map(_.asDouble)
    if (sf.isEmpty && ao.isEmpty) None
    else Some((sf.getOrElse(1.0), ao.getOrElse(0.0)))
  }

  private def cfFillOf(attrs: JsonNode): Option[Double] =
    Option(attrs.get("_FillValue")).filter(_.isNumber).map(_.asDouble)

  private val cfTimeUnitsRe = """^\s*(\S+)\s+since\s+(.+?)\s*$""".r

  /** ns per CF time unit, for the unit spellings udunits/xarray emit.
    * Weeks are a fixed 7 days; months/years are NOT fixed durations, so
    * a "months since"/"years since" axis cannot map onto datetime64 —
    * callers must reject it loudly rather than surface raw counts. */
  private def cfUnitNs(u: String): Option[Long] = u.toLowerCase match {
    case "nanosecond" | "nanoseconds" | "ns" => Some(1L)
    case "microsecond" | "microseconds" | "us" => Some(1000L)
    case "millisecond" | "milliseconds" | "ms" => Some(1000000L)
    case "second" | "seconds" | "sec" | "secs" | "s" => Some(1000000000L)
    case "minute" | "minutes" | "min" | "mins" => Some(60L * 1000000000L)
    case "hour" | "hours" | "hr" | "hrs" | "h" => Some(3600L * 1000000000L)
    case "day" | "days" | "d" => Some(86400L * 1000000000L)
    case "week" | "weeks" => Some(7L * 86400L * 1000000000L)
    case _ => None
  }

  /** ns per numpy datetime64 unit CODE — case-SENSITIVE ('m' is minutes,
    * 'M' is months): the fixed-duration codes map; M/Y (calendar-varying)
    * have no ns equivalent and must reject. */
  private def m8UnitNs(code: String): Option[Long] = code match {
    case "ns" => Some(1L)
    case "us" => Some(1000L)
    case "ms" => Some(1000000L)
    case "s" => Some(1000000000L)
    case "m" => Some(60L * 1000000000L)
    case "h" => Some(3600L * 1000000000L)
    case "D" => Some(86400L * 1000000000L)
    case "W" => Some(7L * 86400L * 1000000000L)
    case _ => None
  }

  /** Lenient match for udunits reference timestamps: real-world
    * spellings are sloppier than strict ISO ("days since 2000-1-1",
    * "hours since 1990-01-01 0:00:0.0", offsets like +10:00 / -0600),
    * and xarray/cftime accept all of them. Groups: y, mo, d, then
    * optional h[, mi[, s[.frac]]], then optional Z / ±hh[:mm] offset. */
  private val cfRefTsRe =
    ("""^(\d{1,4})-(\d{1,2})-(\d{1,2})""" +
      """(?:[T ]\s*(\d{1,2})(?::(\d{1,2})(?::(\d{1,2})(\.\d+)?)?)?)?""" +
      """\s*(Z|UTC|[+-]\d{1,2}:?(?:\d{2})?)?$""").r

  /** Parsed udunits reference timestamp components — calendar-agnostic
    * (the DATE is only validated against a calendar at conversion). */
  private final case class CfRefTs(y: Int, mo: Int, d: Int, h: Int,
                                   mi: Int, sec: Int, fracNs: Long,
                                   offSec: Long)

  private def parseCfRefTs(ts: String): CfRefTs = ts.trim match {
    case cfRefTsRe(y, mo, d, h, mi, s, frac, off) =>
      val fracNs = Option(frac)
        .map(f => math.rint(f.toDouble * 1e9).toLong).getOrElse(0L)
      val offSec = Option(off) match {
        case None | Some("Z") | Some("UTC") => 0L
        case Some(o) =>
          val sign = if (o.startsWith("-")) -1L else 1L
          val body = o.substring(1).replace(":", "")
          val (hh, mm) =
            if (body.length <= 2) (body.toInt, 0)
            else (body.dropRight(2).toInt, body.takeRight(2).toInt)
          require(hh <= 23 && mm <= 59,
            s"bad UTC offset '$o' in CF reference timestamp '$ts'")
          sign * (hh * 3600L + mm * 60L)
      }
      CfRefTs(y.toInt, mo.toInt, d.toInt,
        Option(h).map(_.toInt).getOrElse(0),
        Option(mi).map(_.toInt).getOrElse(0),
        Option(s).map(_.toInt).getOrElse(0), fracNs, offSec)
    case _ => throw new IllegalArgumentException(
      s"cannot parse CF reference timestamp '$ts'")
  }

  /** Epoch-ns of a CF reference timestamp ("1979-01-01",
    * "2000-1-1", "2000-01-01 06:00:00", T-separated, optional
    * fractional seconds, optional Z/UTC or explicit ±hh[:mm] offset
    * applied per OffsetDateTime semantics). Proleptic Gregorian. */
  private def cfEpochNs(ts: String): Long = {
    val r = parseCfRefTs(ts)
    val ldt = java.time.LocalDateTime.of(r.y, r.mo, r.d, r.h, r.mi, r.sec)
    val epochSec = math.subtractExact(
      ldt.toEpochSecond(java.time.ZoneOffset.UTC), r.offSec)
    math.addExact(math.multiplyExact(epochSec, 1000000000L), r.fracNs)
  }

  /** CF time encoding, when `units` reads "<time-unit> since <ts>" on a
    * numeric array — the layout every stock xarray `to_zarr` emits for
    * datetime coordinates (zarr.py:72-96 opens stores through xarray's
    * decode_cf, which is where the reference gets this for free).
    * Gregorian calendars (or no calendar attr) yield a [[CfTime]]
    * (decode to datetime64[ns]); the fixed-year non-Gregorian
    * calendars (noleap / all_leap / 360_day — CMIP time axes) yield a
    * [[CfCalTime]] tag: values stay raw counts and calendar kernels
    * consume the tag. A recognized unit with an unparseable timestamp
    * or a variable-year calendar (julian, ...) fails loudly: silently
    * surfacing raw offsets would be a wrong read. Unknown unit words
    * ("metres since launch") are NOT time encodings and decode as
    * plain numbers. */
  private def cfTimeTagsOf(attrs: JsonNode,
                           name: String): (Option[CfTime], Option[CfCalTime]) =
    Option(attrs.get("units")).filter(_.isTextual).map(_.asText) match {
      case Some(cfTimeUnitsRe(unitWord, ts)) =>
        val calAttr = Option(attrs.get("calendar")).filter(_.isTextual)
          .map(_.asText.toLowerCase)
        // months/years since: month-length-varying everywhere EXCEPT
        // the 360_day calendar (every month is exactly 30 days), which
        // is the one calendar cftime itself allows these units on —
        // there they are fixed 30/360-day counts and decode like any
        // other calendar-tagged unit. Anywhere else: reject loudly.
        val monthly = Set("month", "months").contains(unitWord.toLowerCase)
        val yearly = Set("year", "years").contains(unitWord.toLowerCase)
        if (monthly || yearly) {
          require(calAttr.contains("360_day"),
            s"array $name: CF time unit '$unitWord' varies by calendar " +
              "and cannot map onto datetime64[ns] (cftime allows it only " +
              "on the 360_day calendar)")
          val unitNs = (if (monthly) 30L else 360L) * CfCalendar.DayNs
          def wrap[A](body: => A): A = try body catch {
            case e: Exception => throw new IllegalArgumentException(
              s"array $name: cannot parse CF time reference '$ts' in " +
                s"units '$unitWord since $ts'", e)
          }
          val epoch = wrap {
            val r = parseCfRefTs(ts)
            CfCalendar.addNs(
              CfCalendar.instant("360_day", r.y.toLong, r.mo, r.d, r.h,
                r.mi, r.sec, r.fracNs),
              math.multiplyExact(-r.offSec, 1000000000L))
          }
          return (None, Some(CfCalTime("360_day", epoch, unitNs)))
        }
        cfUnitNs(unitWord) match {
          case None => (None, None) // not a time encoding
          case Some(unitNs) =>
            def wrap[A](body: => A): A = try body catch {
              case e: Exception => throw new IllegalArgumentException(
                s"array $name: cannot parse CF time reference '$ts' in " +
                  s"units '$unitWord since $ts'", e)
            }
            Option(attrs.get("calendar")).filter(_.isTextual)
              .map(_.asText) match {
              case Some(cal) if CfCalendar.isSupported(cal) =>
                val norm = CfCalendar.normalize(cal)
                val epoch = wrap {
                  val r = parseCfRefTs(ts)
                  CfCalendar.addNs(
                    CfCalendar.instant(norm, r.y.toLong, r.mo, r.d, r.h,
                      r.mi, r.sec, r.fracNs),
                    math.multiplyExact(-r.offSec, 1000000000L))
                }
                (None, Some(CfCalTime(norm, epoch, unitNs)))
              case Some(cal) =>
                require(Set("standard", "gregorian", "proleptic_gregorian")
                  .contains(cal.toLowerCase),
                  s"array $name: unsupported CF calendar '$cal' (Gregorian " +
                    "maps onto datetime64; noleap/365_day, all_leap/366_day " +
                    "and 360_day decode as raw counts with a calendar tag)")
                (Some(CfTime(wrap(cfEpochNs(ts)), unitNs)), None)
              case None =>
                (Some(CfTime(wrap(cfEpochNs(ts)), unitNs)), None)
            }
        }
      case _ => (None, None)
    }

  /** Apply CF decoding to a freshly-read block: raw values equal to the
    * `_FillValue` sentinel mask to NaN, then packed integers become
    * `v * scale + offset` doubles — xarray's masking-then-scaling order.
    * Identity when the array carries neither attribute. */
  def decodeCf(meta: ArrayMeta, arr: NdArray): NdArray =
    if (meta.cfTime.isDefined) {
      // CF time: fill sentinel / NaN masks to NaT, then number -> epoch
      // ns. Integer inputs use exact Long math (float-detouring 2^53+
      // ns values would corrupt them — the same hazard XbeamDataset's
      // datetime kernels guard against); float inputs round half-even.
      val ct = meta.cfTime.get
      val isFloat = meta.dtype == DType.F64 || meta.dtype == DType.F32
      val out = NdArray.zeros(DType.TimeNs, arr.shape)
      var i = 0L
      while (i < arr.size) {
        if (isFloat) {
          val v = arr.getDouble(i)
          out.setLong(i,
            if (v.isNaN || meta.cfFill.contains(v)) Long.MinValue
            else math.addExact(ct.epochNs, math.rint(v * ct.unitNs).toLong))
        } else {
          val v = arr.getLong(i)
          // exact Long fill compare (an integral fill near 2^53 would
          // false-match through the double detour); a stored
          // Long.MinValue is numpy's iNaT sentinel, which producers
          // leave in raw int64 CF arrays without declaring _FillValue —
          // pass it through as NaT like the timeUnitNs branch below
          // rather than overflowing multiplyExact
          out.setLong(i,
            if (v == Long.MinValue ||
              meta.cfFill.exists(f => f.isWhole && f.toLong == v))
              Long.MinValue
            else math.addExact(ct.epochNs,
              math.multiplyExact(v, ct.unitNs)))
        }
        i += 1
      }
      out
    } else if (meta.dtype == DType.TimeNs &&
      (meta.timeUnitNs != 1L || meta.cfFill.isDefined)) {
      // datetime64 stays datetime64: scale non-ns ticks to ns; NaT and
      // a declared _FillValue sentinel both pass through as NaT
      // (scaling the sentinel would mint a bogus 1970-era timestamp,
      // and the generic fill branch below would detour to float64)
      val out = NdArray.zeros(DType.TimeNs, arr.shape)
      var i = 0L
      while (i < arr.size) {
        val v = arr.getLong(i)
        out.setLong(i,
          if (v == Long.MinValue ||
            meta.cfFill.exists(f => f.isWhole && f.toLong == v))
            Long.MinValue
          else math.multiplyExact(v, meta.timeUnitNs))
        i += 1
      }
      out
    } else if (meta.cfScale.isEmpty && meta.cfFill.isEmpty) arr
    else {
      val (sf, ao) = meta.cfScale.getOrElse((1.0, 0.0))
      val out = NdArray.zeros(DType.F64, arr.shape)
      var i = 0L
      while (i < arr.size) {
        val raw = arr.getDouble(i)
        out.setDouble(i,
          if (meta.cfFill.contains(raw)) Double.NaN else raw * sf + ao)
        i += 1
      }
      out
    }

  /** The dtype a reader sees after CF decoding. Datetime arrays stay
    * datetime (fills mask to NaT, never a float64 detour). */
  def decodedDType(meta: ArrayMeta): DType =
    if (meta.stringDType.isDefined) throw new IllegalArgumentException(
      "string-typed array has no numeric decoded dtype — callers must " +
        "branch on stringDType and use readStringCoord")
    else if (meta.cfTime.isDefined || meta.dtype == DType.TimeNs) DType.TimeNs
    else if (meta.cfScale.isDefined || meta.cfFill.isDefined) DType.F64
    else meta.dtype

  private def readArrayMetaV3(name: String, v3Bytes: Array[Byte]): ArrayMeta = {
    val za = mapper.readTree(v3Bytes)
    require(za.get("zarr_format").asInt == 3 &&
      za.get("node_type").asText == "array",
      s"$name/zarr.json is not a v3 array node")
    val shape = (0 until za.get("shape").size).map(i => za.get("shape").get(i).asLong)
    val grid = za.get("chunk_grid")
    require(grid.get("name").asText == "regular",
      s"unsupported chunk grid: ${grid.get("name").asText}")
    val cs = grid.get("configuration").get("chunk_shape")
    val chunks = (0 until cs.size).map(cs.get(_).asInt)
    val keySep = za.get("chunk_key_encoding") match {
      case null => "/"
      case cke =>
        require(cke.get("name").asText == "default",
          s"unsupported chunk key encoding: ${cke.get("name").asText}")
        Option(cke.get("configuration")).flatMap(c => Option(c.get("separator")))
          .map(_.asText).getOrElse("/")
    }
    var compressor: Option[String] = None
    var checksummed = false
    var shardChunks: Option[Seq[Int]] = None
    var transposeOrder: Option[Seq[Int]] = None
    var outerTranspose = false
    var vlenUtf8 = false
    def scanCodecs(codecs: JsonNode, inShard: Boolean = false): Unit =
      (0 until codecs.size).foreach { i =>
        codecs.get(i).get("name").asText match {
          // zarr-python 3's array→bytes codec for the "string" data
          // type: same numcodecs VLenUTF8 byte layout as the v2 filter
          case "vlen-utf8" => vlenUtf8 = true
          case "bytes" =>
            val cfg = codecs.get(i).get("configuration")
            val endian = Option(cfg).flatMap(c => Option(c.get("endian")))
              .map(_.asText).getOrElse("little")
            require(endian == "little", s"unsupported endian $endian for $name")
          case "gzip" => compressor = Some("gzip")
          // standalone zstd — zarr-python 3's common default compressor;
          // the frame self-describes, so level/checksum config is
          // write-side only
          case "zstd" => compressor = Some("zstd")
          // array→array transpose (v3 core spec): chunk bytes are stored
          // C-order over the permuted chunk shape; record the permutation
          // and inverse-apply on read
          case "transpose" =>
            val ord = codecs.get(i).get("configuration").get("order")
            transposeOrder = Some((0 until ord.size).map(ord.get(_).asInt))
            if (!inShard) outerTranspose = true
          case "blosc" =>
            // carry cname + filter into the spec string (see the v2
            // parse): writes re-encode with the store's own settings
            val cfg = Option(codecs.get(i).get("configuration"))
            val cname = cfg.flatMap(c => Option(c.get("cname")))
              .map(_.asText).getOrElse("lz4")
            val bit = cfg.flatMap(c => Option(c.get("shuffle")))
              .exists(_.asText == "bitshuffle")
            compressor = Some(s"blosc:$cname" + (if (bit) ":bit" else ""))
          case "crc32c" => checksummed = true
          case "sharding_indexed" =>
            val cfg = codecs.get(i).get("configuration")
            val cs = cfg.get("chunk_shape")
            shardChunks = Some((0 until cs.size).map(cs.get(_).asInt))
            val loc = Option(cfg.get("index_location")).map(_.asText).getOrElse("end")
            require(loc == "end", s"unsupported index_location $loc for $name")
            scanCodecs(cfg.get("codecs"), inShard = true)
          case other => throw new IllegalArgumentException(
            s"unsupported v3 codec $other for $name")
        }
      }
    scanCodecs(za.get("codecs"))
    // inner-chunk transpose decodes per inner chunk; a transpose OUTSIDE
    // sharding permutes the whole shard layout, which the inner-chunk
    // inverse would silently misread — reject loudly instead
    require(transposeOrder.isEmpty || shardChunks.isEmpty || !outerTranspose,
      s"transpose codec outside sharding_indexed is not supported for $name")
    if (checksummed)
      compressor = Some(compressor.getOrElse("none") + "+crc")
    val dimNames = za.get("dimension_names") match {
      case null => if (shape.length == 1) Seq(name)
        else throw new IllegalArgumentException(s"array $name lacks dimension_names")
      case dn => (0 until dn.size).map(dn.get(_).asText)
    }
    val fill = za.get("fill_value") match {
      case null => 0.0
      case n if n.isTextual => n.asText match {
        case "NaN" => Double.NaN
        case "Infinity" => Double.PositiveInfinity
        case "-Infinity" => Double.NegativeInfinity
        case other =>
          // string arrays: readStringCoord fills absent chunks with ""
          // — a NON-empty declared fill cannot be honored, reject
          if (za.get("data_type").asText == "string") {
            require(other.isEmpty,
              s"array $name declares non-empty string fill_value " +
                s"'$other' — absent chunks would silently read as \"\"")
            0.0
          } else other.toDouble
      }
      case n => n.asDouble
    }
    val v3Attrs = Option(za.get("attributes"))
    val v3CfScale = v3Attrs.flatMap(cfScaleOf)
    // v3 has no datetime data_type; stock xarray stores time on v3 the
    // same CF way it does on v2 — numbers + a "units: ... since ..." attr
    val (v3CfTime, v3CfCalTime) = v3Attrs.map(a => cfTimeTagsOf(a, name))
      .getOrElse((None, None))
    require(v3CfTime.isEmpty || v3CfScale.isEmpty,
      s"array $name carries both CF time units and scale_factor/" +
        "add_offset — ambiguous encoding")
    require(v3CfCalTime.isEmpty || v3CfScale.isEmpty,
      s"array $name carries both CF calendar time units and " +
        "scale_factor/add_offset — ambiguous encoding")
    require(v3CfCalTime.isEmpty || v3Attrs.flatMap(cfFillOf).isEmpty,
      s"array $name: _FillValue on a non-Gregorian CF time axis is " +
        "not supported")
    // v3 "string" data type (zarr-python 3's str arrays): read-only
    // 1-D coordinates via the vlen-utf8 array→bytes codec — the same
    // byte layout as the v2 numcodecs filter
    val v3StringDType: Option[StringDType] =
      if (za.get("data_type").asText != "string") {
        require(!vlenUtf8, s"array $name: vlen-utf8 codec on non-string " +
          s"data_type ${za.get("data_type").asText} is not supported")
        None
      } else {
        require(vlenUtf8,
          s"array $name: v3 string data_type without a vlen-utf8 codec")
        require(shape.length == 1 && dimNames == Seq(name),
          s"array $name: string data_type is only supported for 1-D " +
            "coordinate arrays (read-only)")
        require(shardChunks.isEmpty,
          s"array $name: sharded string arrays are not supported")
        Some(StringDType.VlenUtf8)
      }
    val (v3Dtype, v3Widen) =
      if (v3StringDType.isDefined) (DType.U8, None) // placeholder; every
      // numeric path guards on stringDType and rejects loudly
      else dtypeFromV3Full(za.get("data_type").asText)
    ArrayMeta(shape, chunks, v3Dtype, dimNames,
      compressor, fill, format = 3, keySep = keySep, shardChunks = shardChunks,
      cfScale = if (v3StringDType.isDefined) None else v3CfScale,
      cfFill = if (v3StringDType.isDefined) None else v3Attrs.flatMap(cfFillOf),
      transposeOrder = transposeOrder,
      cfTime = v3CfTime.filter(_ => v3StringDType.isEmpty),
      widenFrom = v3Widen,
      cfCalTime = v3CfCalTime.filter(_ => v3StringDType.isEmpty),
      stringDType = v3StringDType)
  }

  // ------------------------------------------------------- v3 sharding
  // sharding_indexed layout: concatenated encoded inner chunks followed
  // by the index — per inner chunk (C order over the inner grid) two
  // little-endian uint64s (offset, nbytes), MAX_VALUE/MAX_VALUE when
  // absent — and a little-endian crc32c of the index bytes at the file
  // end (index_location: "end").

  private val ShardMissing = -1L // 0xFFFFFFFFFFFFFFFF as signed

  private def innerGrid(meta: ArrayMeta): Array[Int] = {
    val inner = meta.shardChunks.get
    meta.chunks.indices.map(d => meta.chunks(d) / inner(d)).toArray
  }

  private def crc32c(bytes: Array[Byte]): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(bytes)
    c.getValue.toInt
  }

  /** Decode the `[selStarts, selStarts + selLens)` region (shard-local
    * coords) of one shard file WITHOUT reading the whole file: one
    * ranged read for the index (its size is fixed —
    * `16·nInner + 4` bytes at the file end, `index_location: "end"`),
    * then one ranged read per intersecting PRESENT inner chunk. This is
    * the access pattern the sharded layout exists for (the reference's
    * "pancake vs pencil" guidance assumes readers fetch inner chunks by
    * range, as zarr-python does): a sel/slice that needs one 1 MB inner
    * chunk of a 1 GB shard fetches ~1 MB, not the gigabyte. Shards may
    * exceed 2 GiB — the Int bound now applies per inner chunk, where it
    * is structural (an inner chunk is one in-memory decode). */
  private def readShardRegion(store: BlobStore, f: String, meta: ArrayMeta,
                              selStarts: Array[Int],
                              selLens: Array[Int]): NdArray = {
    val inner = meta.shardChunks.get
    val grid = innerGrid(meta)
    val nd = grid.length
    val nInner = grid.map(_.toLong).product.toInt
    val out = NdArray.fill(meta.dtype, selLens.clone(), meta.fillValue)
    // Adaptive whole-vs-ranged: when the selection covers most of the
    // shard's extent (>= `graft.shardWholeReadFraction`, default 0.5),
    // ranged access is pure overhead — a dense read pays stat + index
    // range + run range(s) to fetch bytes it would mostly need anyway.
    // Fetch the blob once and serve the index walk and chunk decodes
    // from memory; sparse selections keep the ranged path (the 100 TB
    // posture the sharded layout exists for).
    val wholeFrac = sys.props.get("graft.shardWholeReadFraction")
      .map(_.toDouble).getOrElse(0.5)
    val selFrac = (0 until nd)
      .map(d => selLens(d).toDouble / meta.chunks(d)).product
    val src: BlobStore =
      if (selFrac >= wholeFrac) store.readIfExists(f) match {
        case Some(all) => new ShardBytesView(f, all)
        case None => return out
      } else store
    val fileLenOpt = src.sizeIfExists(f)
    if (fileLenOpt.isEmpty) return out
    val fileLen = fileLenOpt.get
    val idxLen = nInner * 16
    require(fileLen >= idxLen + 4, s"truncated shard file $f")
    val idxAndCrc = src.readRange(f, fileLen - idxLen - 4, idxLen + 4)
    val idx = java.util.Arrays.copyOfRange(idxAndCrc, 0, idxLen)
    val storedCrc = java.nio.ByteBuffer.wrap(idxAndCrc, idxLen, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    require(storedCrc == crc32c(idx), s"shard index crc mismatch in $f")
    val bb = java.nio.ByteBuffer.wrap(idx).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // only the inner chunks the region intersects
    val ranges: Array[Range] = Array.tabulate(nd) { d =>
      val first = selStarts(d) / inner(d)
      val last = (selStarts(d) + selLens(d) - 1) / inner(d)
      first to last
    }
    // pass 1: index walk — collect each needed PRESENT inner chunk's
    // (grid position, byte offset, byte length)
    val needed = Seq.newBuilder[(Array[Int], Long, Int)]
    val ci = new Array[Int](nd)
    def rec(d: Int): Unit = {
      if (d == nd) {
        var flat = 0
        var k = 0
        while (k < nd) { flat = flat * grid(k) + ci(k); k += 1 }
        val off = bb.getLong(flat * 16)
        val len = bb.getLong(flat * 16 + 8)
        if (off != ShardMissing && len != ShardMissing) {
          // uint64s from the index; compare via subtraction — off + len
          // can overflow Long for corrupt indices, which is exactly the
          // case this guard must catch
          require(off >= 0 && len >= 0 && off <= fileLen &&
            len <= fileLen - off && len <= Int.MaxValue,
            s"corrupt shard index in $f: inner chunk at off=$off len=$len " +
              s"(file $fileLen bytes; inner chunks are capped at 2 GiB)")
          needed += ((ci.clone(), off, len.toInt))
        } // absent inner chunk: fill, already in `out`
      } else ranges(d).foreach { b => ci(d) = b; rec(d + 1) }
    }
    if (out.size > 0) rec(0)
    // pass 2: fetch — byte-adjacent chunks coalesce into one ranged
    // read (writers pack streams back-to-back, so a row of needed
    // chunks is usually one run): on an object store that's one GET
    // per run instead of one per inner chunk, without ever fetching
    // bytes the region doesn't need
    val sorted = needed.result().sortBy(_._2)
    var i = 0
    while (i < sorted.length) {
      var j = i
      var runLen = sorted(i)._3.toLong
      while (j + 1 < sorted.length &&
          sorted(j + 1)._2 == sorted(j)._2 + sorted(j)._3 &&
          runLen + sorted(j + 1)._3 <= Int.MaxValue) {
        j += 1
        runLen += sorted(j)._3
      }
      val runOff = sorted(i)._2
      val run = src.readRange(f, runOff, runLen.toInt)
      var m = i
      while (m <= j) {
        val (pos, off, len) = sorted(m)
        val raw = java.util.Arrays.copyOfRange(run,
          (off - runOff).toInt, (off - runOff).toInt + len)
        val block = decodeChunk(meta, inner.toArray, raw)
        // intersect this inner chunk with the requested region
        val insStarts = new Array[Int](nd)
        val blkStarts = new Array[Int](nd)
        val blkLens = new Array[Int](nd)
        var jj = 0
        while (jj < nd) {
          val bStart = pos(jj) * inner(jj)
          val lo = math.max(bStart, selStarts(jj))
          val hi = math.min(bStart + inner(jj), selStarts(jj) + selLens(jj))
          blkStarts(jj) = lo - bStart
          blkLens(jj) = hi - lo
          insStarts(jj) = lo - selStarts(jj)
          jj += 1
        }
        out.insert(insStarts, block.slice(blkStarts, blkLens))
        m += 1
      }
      i = j + 1
    }
    out
  }

  /** Encode a dense (padded) shard block into a shard file. */
  private def writeShard(store: BlobStore, f: String, meta: ArrayMeta,
                         block: NdArray): Unit = {
    val inner = meta.shardChunks.get
    val grid = innerGrid(meta)
    val nInner = grid.map(_.toLong).product.toInt
    val body = new ByteArrayOutputStream()
    val idx = java.nio.ByteBuffer.allocate(nInner * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val innerIdx = new Array[Int](grid.length)
    (0 until nInner).foreach { _ =>
      val starts = innerIdx.zipWithIndex.map { case (ci, d) => ci * inner(d) }
      val chunkArr = block.slice(starts, inner.toArray)
      val bytes = encodeBytes(meta, chunkArr.data)
      idx.putLong(body.size.toLong)
      idx.putLong(bytes.length.toLong)
      body.write(bytes)
      var k = grid.length - 1
      var carry = true
      while (k >= 0 && carry) {
        innerIdx(k) += 1
        if (innerIdx(k) == grid(k)) { innerIdx(k) = 0; k -= 1 } else carry = false
      }
    }
    val idxBytes = idx.array()
    body.write(idxBytes)
    val crc = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(crc32c(idxBytes)).array()
    body.write(crc)
    store.write(f, body.toByteArray)
  }

  private[sources] def dtypeToV3(dt: DType): String = dt match {
    case DType.F32 => "float32"
    case DType.F64 => "float64"
    case DType.I32 => "int32"
    // v3 has no datetime64 core type; times persist as int64 nanos
    case DType.I64 | DType.TimeNs => "int64"
    case DType.I16 => "int16"
    case DType.I8 => "int8"
    case DType.U8 => "uint8"
    case DType.Bool => "bool"
  }

  /** v3 data_type → (kernel dtype, widenFrom): uint16/uint32/float16
    * widen losslessly to i4/i8/f4 on read, mirroring the v2 parse. */
  private[sources] def dtypeFromV3Full(s: String): (DType, Option[String]) =
    s match {
      case "float32" => (DType.F32, None)
      case "float64" => (DType.F64, None)
      case "int32" => (DType.I32, None)
      case "int64" => (DType.I64, None)
      case "int16" => (DType.I16, None)
      case "int8" => (DType.I8, None)
      case "uint8" => (DType.U8, None)
      case "bool" => (DType.Bool, None)
      case "uint16" => (DType.I32, Some("<u2"))
      case "uint32" => (DType.I64, Some("<u4"))
      case "float16" => (DType.F32, Some("<f2"))
      case other => throw new IllegalArgumentException(s"unsupported v3 data_type $other")
    }

  /** Chunk blob key for a block index, per format: v2 "0.1" (or nested
    * "0/1" with dimension_separator "/"), v3 "c/0/1" (or "c.0.1" with
    * the "." separator). */
  private def blockKey(path: String, name: String, meta: ArrayMeta,
                       blockIdx: Array[Long]): String =
    if (meta.format == 2) {
      val fname = if (blockIdx.isEmpty) "0" else blockIdx.mkString(meta.keySep)
      s"$path/$name/$fname"
    } else {
      val parts = "c" +: blockIdx.toSeq.map(_.toString)
      s"$path/$name/${parts.mkString(meta.keySep)}"
    }

  /** Read an arbitrary region of a stored array by assembling the
    * intersecting zarr blocks (edge blocks are stored padded; we slice
    * the padding off). This generality gives rechunk-as-re-read for free
    * (dataset.py:1010-1019). */
  def readRegion(path: String, name: String, meta: ArrayMeta,
                 starts: Array[Long], lengths: Array[Int]): NdArray =
    readRegion(BlobStore.forUrl(path), path, name, meta, starts, lengths)

  private def readRegion(store: BlobStore, path: String, name: String,
                         meta: ArrayMeta, starts: Array[Long],
                         lengths: Array[Int]): NdArray = {
    require(meta.stringDType.isEmpty,
      s"array $name is string-typed — read it via readStringCoord " +
        "(strings are read-only 1-D coordinate arrays)")
    val nd = meta.shape.length
    require(starts.length == nd && lengths.length == nd)
    val out = NdArray.zeros(meta.dtype, lengths)
    // per-dim list of intersecting block indices
    val blockRanges: Seq[Seq[Long]] = (0 until nd).map { d =>
      val first = starts(d) / meta.chunks(d)
      val last = (starts(d) + lengths(d) - 1) / meta.chunks(d)
      first to last
    }
    def rec(d: Int, blockIdx: Array[Long]): Unit = {
      if (d == nd) {
        // intersection of block extent and requested region, in global coords
        val insStarts = new Array[Int](nd)
        val selStarts = new Array[Int](nd)
        val selLens = new Array[Int](nd)
        var k = 0
        while (k < nd) {
          val bStart = blockIdx(k) * meta.chunks(k)
          val lo = math.max(bStart, starts(k))
          val hi = math.min(bStart + meta.chunks(k), starts(k) + lengths(k))
          selStarts(k) = (lo - bStart).toInt
          selLens(k) = (hi - lo).toInt
          insStarts(k) = (lo - starts(k)).toInt
          k += 1
        }
        // sharded blocks take the wanted region so only intersecting
        // inner chunks are range-read; plain blocks are one compressed
        // blob — whole-read is structural there, slice after decode
        val region =
          if (meta.shardChunks.isDefined)
            readShardRegion(store, blockKey(path, name, meta, blockIdx),
              meta, selStarts, selLens)
          else readBlock(store, path, name, meta, blockIdx)
            .slice(selStarts, selLens)
        out.insert(insStarts, region)
      } else blockRanges(d).foreach { b => blockIdx(d) = b; rec(d + 1, blockIdx) }
    }
    if (out.size > 0) rec(0, new Array[Long](nd))
    out
  }

  /** Read one full (padded) non-sharded zarr block; missing blob →
    * fill value. */
  private def readBlock(store: BlobStore, path: String, name: String,
                        meta: ArrayMeta, blockIdx: Array[Long]): NdArray = {
    val f = blockKey(path, name, meta, blockIdx)
    val blockShape = meta.chunks.toArray
    store.readIfExists(f) match {
      case None => NdArray.fill(meta.dtype, blockShape, meta.fillValue)
      case Some(raw) => decodeChunk(meta, blockShape, raw)
    }
  }

  def readCoord(path: String, dim: String): Option[NdArray] = {
    val store = BlobStore.forUrl(path)
    if (!store.exists(s"$path/$dim/.zarray") &&
      !store.exists(s"$path/$dim/zarr.json")) return None
    val m = readArrayMeta(path, dim)
    Some(decodeCf(m, readCoord(path, dim, m)))
  }

  /** Coordinate read with the metadata already in hand (no metadata
    * round-trip — callers resolve metas once from StoreMeta). */
  def readCoord(path: String, dim: String, meta: ArrayMeta): NdArray =
    readRegion(BlobStore.forUrl(path), path, dim, meta, Array(0L),
      Array(meta.shape.head.toInt))

  /** Read a 1-D string coordinate array (`|S<n>` / `<U<n>` fixed
    * width, or numcodecs vlen-utf8) decoded to JVM strings — the
    * station/label/member-id layout stock xarray stores carry, which
    * the reference reads natively through numpy (core.py:72-76).
    * Read-only and plan-scale (coordinate arrays are driver-resident
    * metadata, like the numeric readCoord); absent chunks fill with
    * the empty string. */
  def readStringCoord(path: String, name: String,
                      meta: ArrayMeta): Array[String] = {
    val sd = meta.stringDType.getOrElse(throw new IllegalArgumentException(
      s"array $name is not string-typed"))
    require(meta.shape.length == 1 && meta.shape.head <= Int.MaxValue,
      s"string coordinate $name must be 1-D and under 2^31 elements")
    val store = BlobStore.forUrl(path)
    val n = meta.shape.head.toInt
    val c = meta.chunks.head
    val out = Array.fill(n)("")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val nBlocks = (n + c - 1) / c
    var b = 0
    while (b < nBlocks) {
      val f = blockKey(path, name, meta, Array(b.toLong))
      store.readIfExists(f).foreach { rawBytes =>
        // decodeBytes handles the compressor pipeline; endian swap and
        // widening never apply to string metas (parse guarantees)
        val raw = decodeBytes(meta, rawBytes)
        val start = b * c
        val len = math.min(c, n - start)
        sd match {
          case StringDType.FixedS(w) =>
            require(raw.length >= len * w,
              s"string chunk $f is ${raw.length} bytes, expected >= ${len * w}")
            var i = 0
            while (i < len) {
              var end = (i + 1) * w
              while (end > i * w && raw(end - 1) == 0) end -= 1
              out(start + i) = new String(raw, i * w, end - i * w, utf8)
              i += 1
            }
          case StringDType.FixedU(w) =>
            require(raw.length >= len * w * 4L,
              s"string chunk $f is ${raw.length} bytes, expected >= ${len * w * 4L}")
            val bb = java.nio.ByteBuffer.wrap(raw)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            var i = 0
            while (i < len) {
              var eff = w
              while (eff > 0 && bb.getInt((i.toLong * w + eff - 1).toInt * 4) == 0)
                eff -= 1
              val sb = new java.lang.StringBuilder(eff)
              var j = 0
              while (j < eff) {
                sb.appendCodePoint(bb.getInt((i.toLong * w + j).toInt * 4))
                j += 1
              }
              out(start + i) = sb.toString
              i += 1
            }
          case StringDType.VlenUtf8 =>
            require(raw.length >= 4, s"vlen-utf8 chunk $f under 4 bytes")
            val bb = java.nio.ByteBuffer.wrap(raw)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val items = bb.getInt(0)
            require(items >= len, s"vlen-utf8 chunk $f declares $items " +
              s"items, expected >= $len")
            var off = 4
            var i = 0
            while (i < len) {
              require(off + 4 <= raw.length, s"vlen-utf8 chunk $f truncated")
              val l = bb.getInt(off)
              off += 4
              require(l >= 0 && off + l <= raw.length,
                s"vlen-utf8 chunk $f truncated (item $i wants $l bytes)")
              out(start + i) = new String(raw, off, l, utf8)
              off += l
              i += 1
            }
        }
      }
      b += 1
    }
    out
  }

  // ----------------------------------------------------------------- write

  /** Driver-side store setup: write group + per-array metadata and the
    * eager coordinate arrays, then consolidated metadata
    * (setup_zarr, zarr.py:389-459). Executors only region-write after
    * this. */
  def setupStore(path: String, template: Template, chunks: Map[String, Int],
                 compressor: Option[String] = None, zarrFormat: Int = 2,
                 shards: Map[String, Int] = Map.empty): Unit = {
    require(zarrFormat == 2 || zarrFormat == 3, s"zarr_format must be 2 or 3")
    require(shards.isEmpty || zarrFormat == 3, "zarr shards require zarr_format 3")
    // Non-listable targets (plain http/https) can never enumerate — and
    // so never clear — chunk blobs written under an older layout: a
    // grid-changing overwrite would leave stale chunks lingering forever
    // behind the fresh metadata. Refuse loudly; an identical-grid
    // re-setup (idempotent re-run) is still allowed because the new job
    // rewrites every key the metadata references.
    checkNonListableOverwrite(path, template, chunks, shards)
    // All setup writes (dozens of tiny metadata blobs + eager coords)
    // stage in memory and flush to the target in one batch — the
    // stage_locally metadata optimization (zarr.py:463-513).
    val store = new StagedWrites(BlobStore.forUrl(path))
    if (zarrFormat == 2) {
      writeJson(store, s"$path/.zgroup", """{"zarr_format":2}""")
      if (template.attrs.nonEmpty)
        writeJson(store, s"$path/.zattrs", attrsJson(template.attrs))
    } else {
      writeJson(store, s"$path/zarr.json",
        s"""{"zarr_format":3,"node_type":"group","attributes":${attrsJson(template.attrs)}}""")
    }
    val dimSizes = template.dimSizes
    val comp = compressor.map { c =>
      val base = stripCrc(c) match {
        case "zlib" | "gzip" if zarrFormat == 3 => "gzip"
        case x => x
      }
      base + (if (crcSuffixed(c)) "+crc" else "")
    }
    template.vars.foreach { case (name, spec) =>
      val shape = spec.dims.map(dimSizes)
      val ch = spec.dims.map(d => chunks.getOrElse(d,
        math.min(dimSizes(d), Int.MaxValue).toInt))
      val sh = if (shards.isEmpty) None
        else Some(spec.dims.zip(ch).map { case (d, c) => shards.getOrElse(d, c) })
      writeArrayMeta(store, path, name, shape, ch, spec.dtype, spec.dims, comp,
        zarrFormat, sh, None, spec.fillValue)
    }
    template.coords.foreach { case (dim, arr) =>
      writeArrayMeta(store, path, dim, Seq(arr.shape(0).toLong),
        Seq(arr.shape(0)), arr.dtype, Seq(dim), None, zarrFormat, None, None,
        None)
      writeRegion(store, path, dim,
        ArrayMeta(Seq(arr.shape(0).toLong), Seq(arr.shape(0)), arr.dtype,
          Seq(dim), None, fillOf(arr.dtype), format = zarrFormat,
          keySep = if (zarrFormat == 3) "/" else "."),
        Array(0L), arr)
    }
    if (zarrFormat == 2) consolidateMetadata(store, path)
    else consolidateMetadataV3(store, path)
    store.flush()
  }

  /** The non-listable-overwrite refusal behind [[setupStore]]: when the
    * target cannot LIST and already carries a store whose grid differs
    * from what setup is about to write, fail before touching anything.
    * "Differs" = any existing array absent from the new template, any
    * dim size change, or any shape/chunk/shard change on a surviving
    * array — exactly the cases that strand unreachable-but-readable
    * stale chunk blobs. */
  private def checkNonListableOverwrite(path: String, template: Template,
                                        chunks: Map[String, Int],
                                        shards: Map[String, Int]): Unit = {
    if (BlobStore.forUrl(path).canList || !storeExists(path)) return
    val old = try openStore(path) catch {
      case scala.util.control.NonFatal(_) => return // unreadable remnant:
      // setup overwrites the metadata wholesale, nothing to compare
    }
    val dimSizes = template.dimSizes
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    val newNames = template.vars.keySet ++ template.coords.keySet
    (old.arrays.keySet -- newNames).toSeq.sorted.foreach(n =>
      problems += s"existing array '$n' is absent from the new template " +
        "(its chunk blobs would linger unreferenced)")
    old.dims.foreach { case (d, sz) =>
      dimSizes.get(d) match {
        case Some(nsz) if nsz != sz => problems += s"dim $d: existing $sz vs new $nsz"
        case None => problems += s"existing dim $d is absent from the new template"
        case _ =>
      }
    }
    old.dataVars.foreach { case (n, am) =>
      template.vars.get(n).foreach { spec =>
        val shape = spec.dims.map(dimSizes)
        val inner = spec.dims.map(d => chunks.getOrElse(d,
          math.min(dimSizes(d), Int.MaxValue).toInt))
        val storedChunks = // read-back convention: chunks = shard when sharded
          if (shards.isEmpty) inner
          else spec.dims.zip(inner).map { case (d, c) => shards.getOrElse(d, c) }
        val newShardChunks = if (shards.isEmpty) None else Some(inner)
        if (am.dims != spec.dims) problems += s"var $n dims: ${am.dims} vs ${spec.dims}"
        if (am.shape != shape) problems += s"var $n shape: ${am.shape} vs $shape"
        if (am.chunks != storedChunks)
          problems += s"var $n chunk grid: ${am.chunks} vs $storedChunks"
        if (am.shardChunks != newShardChunks)
          problems += s"var $n shards: ${am.shardChunks} vs $newShardChunks"
      }
    }
    if (problems.nonEmpty) throw new IllegalArgumentException(
      s"refusing to overwrite the zarr store at $path: the target cannot " +
        "LIST (plain http(s) has no directory protocol), so chunk blobs " +
        "of the existing grid can never be found and cleared — they " +
        "would linger behind the fresh metadata. Grid differences: " +
        problems.mkString("; ") + ". Point the new grid at a fresh path, " +
        "or delete the old store out of band first.")
  }

  private def fillOf(dtype: DType): Double = dtype match {
    case DType.F32 | DType.F64 => Double.NaN
    case _ => 0.0
  }

  def writeArrayMeta(path: String, name: String, shape: Seq[Long], chunks: Seq[Int],
                     dtype: DType, dims: Seq[String],
                     compressor: Option[String], zarrFormat: Int = 2,
                     shards: Option[Seq[Int]] = None,
                     cfScale: Option[(Double, Double)] = None): Unit =
    writeArrayMeta(BlobStore.forUrl(path), path, name, shape, chunks, dtype,
      dims, compressor, zarrFormat, shards, cfScale, None)

  private def writeArrayMeta(store: BlobStore, path: String, name: String,
                             shape: Seq[Long], chunks: Seq[Int],
                             dtype: DType, dims: Seq[String],
                             compressor: Option[String], zarrFormat: Int,
                             shards: Option[Seq[Int]],
                             cfScale: Option[(Double, Double)],
                             fillOverride: Option[Double]): Unit = {
    require(shards.isEmpty || zarrFormat == 3,
      "zarr shards require zarr_format 3")
    // fill_value: the declared override (VarSpec.fillValue — enables
    // metadata-only initialization of accumulator stores), else the
    // dtype default (NaN floats / 0 ints). Readers on both formats
    // already honor whatever lands in the metadata.
    val fill = fillOverride match {
      case Some(v) => dtype match {
        case DType.F32 | DType.F64 =>
          if (v.isNaN) "\"NaN\"" else v.toString
        case _ => v.toLong.toString
      }
      case None => dtype match {
        case DType.F32 | DType.F64 => "\"NaN\""
        case _ => "0"
      }
    }
    if (zarrFormat == 2) {
      require(!compressor.exists(crcSuffixed),
        "the crc32c checksum codec is zarr v3 only (zarrFormat = 3)")
      val comp = compressor match {
        case Some("zlib") => """{"id":"zlib","level":1}"""
        case Some("zstd") => """{"id":"zstd","level":1}"""
        case Some(c) if c == "blosc" || c.startsWith("blosc:") =>
          // numcodecs shuffle codes: 1 = byte SHUFFLE, 2 = BITSHUFFLE
          s"""{"blocksize":0,"clevel":5,"cname":"${bloscCname(c)}",""" +
            s""""id":"blosc","shuffle":${if (bloscBit(c)) 2 else 1}}"""
        case None => "null"
        case Some(other) => throw new IllegalArgumentException(s"unsupported compressor $other")
      }
      writeJson(store, s"$path/$name/.zarray",
        s"""{"chunks":[${chunks.mkString(",")}],"compressor":$comp,"dtype":"${dtype.zarr}","fill_value":$fill,"filters":null,"order":"C","shape":[${shape.mkString(",")}],"zarr_format":2}""")
      val cfJson = cfScale.map { case (sf, ao) =>
        s""","scale_factor":$sf,"add_offset":$ao"""
      }.getOrElse("")
      writeJson(store, s"$path/$name/.zattrs",
        s"""{"_ARRAY_DIMENSIONS":[${dims.map(d => "\"" + d + "\"").mkString(",")}]$cfJson}""")
    } else {
      val innerCodecs = Seq("""{"name":"bytes","configuration":{"endian":"little"}}""") ++
        (compressor.map(stripCrc) match {
          case Some("gzip") | Some("zlib") =>
            Seq("""{"name":"gzip","configuration":{"level":1}}""")
          case Some("zstd") =>
            Seq("""{"name":"zstd","configuration":{"level":1,"checksum":false}}""")
          case Some(c) if c == "blosc" || c.startsWith("blosc:") =>
            val sh = if (bloscBit(c)) "bitshuffle" else "shuffle"
            Seq(s"""{"name":"blosc","configuration":{"cname":"${bloscCname(c)}",""" +
              s""""clevel":5,"shuffle":"$sh","typesize":${dtype.itemsize},""" +
              s""""blocksize":0}}""")
          case Some("none") | None => Nil
          case Some(other) => throw new IllegalArgumentException(s"unsupported compressor $other")
        }) ++
        // the v3 checksum codec: 4 trailing LE crc32c bytes per chunk
        (if (compressor.exists(crcSuffixed))
          Seq("""{"name":"crc32c"}""") else Nil)
      val codecs = shards match {
        case None => innerCodecs
        case Some(sh) =>
          require(sh.length == chunks.length)
          sh.zip(chunks).foreach { case (s, c) =>
            require(s % c == 0,
              s"shard shape $sh must be a whole multiple of chunk shape $chunks")
          }
          Seq(s"""{"name":"sharding_indexed","configuration":{""" +
            s""""chunk_shape":[${chunks.mkString(",")}],""" +
            s""""codecs":[${innerCodecs.mkString(",")}],""" +
            s""""index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"crc32c"}],""" +
            s""""index_location":"end"}}""")
      }
      // with shards, the chunk grid addresses SHARDS
      val gridShape = shards.getOrElse(chunks)
      writeJson(store, s"$path/$name/zarr.json",
        s"""{"zarr_format":3,"node_type":"array","shape":[${shape.mkString(",")}],""" +
          s""""data_type":"${dtypeToV3(dtype)}",""" +
          s""""chunk_grid":{"name":"regular","configuration":{"chunk_shape":[${gridShape.mkString(",")}]}},""" +
          s""""chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
          s""""fill_value":$fill,"codecs":[${codecs.mkString(",")}],""" +
          s""""dimension_names":[${dims.map(d => "\"" + d + "\"").mkString(",")}],""" +
          s""""attributes":{${cfScale.map { case (sf, ao) =>
            s""""scale_factor":$sf,"add_offset":$ao""" }.getOrElse("")}}}""")
    }
  }

  /** Region-write `arr` at global offset `starts`. The region must be
    * aligned to whole stored chunks (validate_zarr_chunk, zarr.py:517-587:
    * offsets multiple of zarr chunks, no sub-chunk writes) so concurrent
    * executor writes never touch the same block file. Edge blocks are
    * padded to full chunk shape with the fill value. */
  def writeRegion(path: String, name: String, meta: ArrayMeta,
                  starts: Array[Long], arr: NdArray): Unit =
    writeRegion(BlobStore.forUrl(path), path, name, meta, starts, arr)

  private def writeRegion(store: BlobStore, path: String, name: String,
                          meta: ArrayMeta, starts: Array[Long],
                          arr: NdArray): Unit = {
    val nd = meta.shape.length
    require(arr.ndim == nd, s"rank mismatch writing $name")
    var d = 0
    while (d < nd) {
      require(starts(d) % meta.chunks(d) == 0,
        s"region start ${starts(d)} for $name dim $d is not a multiple of zarr chunk ${meta.chunks(d)}")
      val end = starts(d) + arr.shape(d)
      require(end == meta.shape(d) || end % meta.chunks(d) == 0,
        s"region end $end for $name dim $d is neither the array edge nor a chunk boundary")
      d += 1
    }
    val blockCounts = (0 until nd).map { k =>
      (arr.shape(k) + meta.chunks(k) - 1) / meta.chunks(k)
    }
    def rec(k: Int, rel: Array[Int]): Unit = {
      if (k == nd) {
        val selStarts = new Array[Int](nd)
        val selLens = new Array[Int](nd)
        val blockIdx = new Array[Long](nd)
        var full = true
        var j = 0
        while (j < nd) {
          selStarts(j) = rel(j) * meta.chunks(j)
          selLens(j) = math.min(meta.chunks(j), arr.shape(j) - selStarts(j))
          blockIdx(j) = (starts(j) + selStarts(j)) / meta.chunks(j)
          if (selLens(j) != meta.chunks(j)) full = false
          j += 1
        }
        val blockData =
          if (full && java.util.Arrays.equals(selLens, arr.shape)) arr
          else if (full) arr.slice(selStarts, selLens)
          else {
            val padded = NdArray.fill(meta.dtype, meta.chunks.toArray, meta.fillValue)
            padded.insert(new Array[Int](nd), arr.slice(selStarts, selLens))
            padded
          }
        writeBlock(store, path, name, meta, blockIdx, blockData)
      } else (0 until blockCounts(k)).foreach { b => rel(k) = b; rec(k + 1, rel) }
    }
    if (arr.size > 0) rec(0, new Array[Int](nd))
  }

  private def writeBlock(store: BlobStore, path: String, name: String,
                         meta: ArrayMeta, blockIdx: Array[Long],
                         block: NdArray): Unit = {
    val f = blockKey(path, name, meta, blockIdx)
    if (meta.shardChunks.isDefined)
      return writeShard(store, f, meta, block)
    store.write(f, encodeBytes(meta, block.data))
  }

  /** Grow an existing store along `dim` — the metadata half of the
    * reference's append workflow (zarr_test.py:474-530: xarray
    * `to_zarr(mode='a', append_dim=...)` extends shapes, then
    * `ChunksToZarr(needs_setup=False)` writes the new regions). Driver
    * side, metadata-only: every array spanning `dim` gets its shape
    * patched; existing chunk files never move because the chunk grid is
    * unchanged. The old extent must end on a chunk boundary so appended
    * region writes can never race an already-written edge block.
    * `coordTail`, when given, appends values to the 1-d coordinate
    * array of `dim` (its length must equal the added extent). */
  def extendDim(path: String, dim: String, newSize: Long,
                coordTail: Option[NdArray] = None): Unit = {
    val store = new StagedWrites(BlobStore.forUrl(path))
    val sm = openStore(path)
    val affected = sm.arrays.filter(_._2.dims.contains(dim))
    require(affected.nonEmpty, s"no array in $path spans dim $dim")
    val oldSize = sm.dims.toMap.apply(dim)
    require(newSize >= oldSize,
      s"cannot shrink dim $dim from $oldSize to $newSize")
    if (newSize == oldSize && coordTail.isEmpty) return
    // growing a dim changes the chunk grid, so any min/max stats sidecar
    // (ChunkStats) recorded against the old grid is tombstoned first
    // (readers also self-protect via the grid recorded in the index)
    graft.sources.zarr.ChunkStats.invalidate(path)
    affected.foreach { case (name, m) =>
      val d = m.dims.indexOf(dim)
      require(oldSize % m.chunks(d) == 0,
        s"cannot append along $dim: existing extent $oldSize of $name is " +
          s"not a multiple of its chunk ${m.chunks(d)} — the edge block " +
          "would need a racy rewrite")
      require(!m.bigEndian,
        s"cannot extend big-endian array $name: the appended regions " +
          "could never be written (writes are little-endian only)")
    }
    // A dim with a coordinate array MUST get its coordinate extension now:
    // extending the shape without values would leave the appended region
    // reading as fill (silently wrong timestamps/labels).
    if (newSize > oldSize && sm.arrays.contains(dim))
      require(coordTail.isDefined,
        s"dim $dim has a coordinate array; pass coordTail with the " +
          s"${newSize - oldSize} appended coordinate values")
    affected.foreach { case (name, m) =>
      val d = m.dims.indexOf(dim)
      val metaKey = if (m.format == 2) s"$path/$name/.zarray"
        else s"$path/$name/zarr.json"
      val node = mapper.readTree(store.read(metaKey)).asInstanceOf[ObjectNode]
      val shapeNode = node.withArray[ArrayNode]("shape")
      val newShape = (0 until shapeNode.size).map(i =>
        if (i == d) newSize else shapeNode.get(i).asLong)
      shapeNode.removeAll()
      newShape.foreach(shapeNode.add)
      writeJson(store, metaKey, mapper.writeValueAsString(node))
    }
    coordTail.foreach { tail =>
      val m = sm.arrays.getOrElse(dim, throw new IllegalArgumentException(
        s"store has no coordinate array for dim $dim"))
      require(tail.shape.toSeq == Seq((newSize - oldSize).toInt),
        s"coordTail shape ${tail.shape.toSeq} != added extent ${newSize - oldSize}")
      require(m.cfScale.isEmpty && m.cfFill.isEmpty && !m.bigEndian &&
        m.cfTime.isEmpty && m.timeUnitNs == 1L && m.widenFrom.isEmpty &&
        m.stringDType.isEmpty,
        s"cannot append to an encoded coordinate array $dim")
      // rewrite the coord whole (it is small and driver-local): blocks
      // realign cleanly because writes start at offset 0
      val full = NdArray.zeros(m.dtype, Array(newSize.toInt))
      full.insert(Array(0), readRegion(path, dim, m, Array(0L), Array(oldSize.toInt)))
      full.insert(Array(oldSize.toInt), tail)
      writeRegion(store, path, dim, m.copy(shape = Seq(newSize)), Array(0L), full)
    }
    if (affected.values.exists(_.format == 2)) consolidateMetadata(store, path)
    // refresh the v3 consolidated root if this store carries one (the
    // per-array surgery above would otherwise go stale in it)
    if (affected.values.exists(_.format == 3) &&
        store.readIfExists(s"$path/zarr.json").exists(b =>
          mapper.readTree(b).get("consolidated_metadata") != null))
      consolidateMetadataV3(store, path)
    store.flush()
  }

  /** Write .zmetadata (consolidated) from the individual files. */
  def consolidateMetadata(path: String): Unit =
    consolidateMetadata(BlobStore.forUrl(path), path)

  private def consolidateMetadata(store: BlobStore, path: String): Unit = {
    val entries = scala.collection.mutable.LinkedHashMap[String, JsonNode]()
    def add(rel: String): Unit =
      store.readIfExists(s"$path/$rel").foreach { bytes =>
        entries(rel) = mapper.readTree(bytes)
      }
    add(".zgroup"); add(".zattrs")
    store.listChildren(path).sorted
      .foreach { n => add(s"$n/.zarray"); add(s"$n/.zattrs") }
    val metaNode = mapper.createObjectNode()
    entries.foreach { case (k, v) => metaNode.set[JsonNode](k, v) }
    val rootNode = mapper.createObjectNode()
    rootNode.put("zarr_format", 2)
    rootNode.set[JsonNode]("metadata", metaNode)
    writeJson(store, s"$path/.zmetadata", mapper.writeValueAsString(rootNode))
  }

  /** Rewrite the v3 root zarr.json with every array node embedded under
    * consolidated_metadata.metadata (zarr-python's v3 consolidated
    * convention, must_understand=false so non-consolidating readers
    * ignore it) — the v3 analogue of [[consolidateMetadata]]: one GET
    * describes the whole store. Per-array zarr.json files stay in
    * place, as zarr-python keeps them. */
  private def consolidateMetadataV3(store: BlobStore, path: String): Unit = {
    val attrs = store.readIfExists(s"$path/zarr.json").flatMap { b =>
      Option(mapper.readTree(b).get("attributes"))
    }
    val metaNode = mapper.createObjectNode()
    store.listChildren(path).sorted.foreach { n =>
      store.readIfExists(s"$path/$n/zarr.json").foreach { b =>
        metaNode.set[JsonNode](n, mapper.readTree(b))
      }
    }
    val cm = mapper.createObjectNode()
    cm.put("kind", "inline")
    cm.put("must_understand", false)
    cm.set[JsonNode]("metadata", metaNode)
    val root = mapper.createObjectNode()
    root.put("zarr_format", 3)
    root.put("node_type", "group")
    root.set[JsonNode]("attributes",
      attrs.getOrElse(mapper.createObjectNode()))
    root.set[JsonNode]("consolidated_metadata", cm)
    writeJson(store, s"$path/zarr.json", mapper.writeValueAsString(root))
  }

  /** Decompress one stored chunk per the array's compressor id
    * ("zlib", "gzip", "blosc"/"blosc:<cname>" or none). Blosc frames
    * self-describe their inner codec and shuffle filter, so one decode
    * path serves any blosc store regardless of write-time settings. */
  private def decodeBytes(meta: ArrayMeta, bytes: Array[Byte]): Array[Byte] = {
    // "+crc" marks the v3 crc32c checksum codec: 4 trailing LE bytes
    // over the (compressed) payload, verified then stripped
    val payload = if (meta.compressor.exists(crcSuffixed)) {
      require(bytes.length >= 4, "crc32c chunk shorter than its checksum")
      val body = bytes.dropRight(4)
      val stored = java.nio.ByteBuffer.wrap(bytes, bytes.length - 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      require(stored == crc32c(body),
        "crc32c mismatch on chunk read — the store is corrupt")
      body
    } else bytes
    val raw = meta.compressor.map(stripCrc) match {
      case Some("zlib") => inflate(payload)
      case Some("gzip") => gunzip(payload)
      case Some("zstd") =>
        // stored chunks are always full chunk shape (padded), so the
        // decoded size is known exactly — decode straight into it.
        // vlen-utf8 strings have no fixed itemsize; their decoded size
        // comes from the zstd frame header instead (zarr-python 3's
        // DEFAULT codec chain for string arrays is [vlen-utf8, zstd])
        val destLen =
          if (meta.stringDType.contains(StringDType.VlenUtf8)) {
            val sz = com.github.luben.zstd.Zstd.decompressedSize(payload)
            require(sz > 0,
              "zstd frame for a vlen-utf8 chunk does not declare its " +
                "content size — unsupported (streaming-written frame?)")
            sz
          } else meta.shardChunks.getOrElse(meta.chunks)
            .map(_.toLong).product * storedItemsize(meta)
        require(destLen <= Int.MaxValue, s"zstd chunk over 2 GiB")
        val dst = new Array[Byte](destLen.toInt)
        val n = com.github.luben.zstd.Zstd.decompressByteArray(
          dst, 0, dst.length, payload, 0, payload.length)
        require(!com.github.luben.zstd.Zstd.isError(n) && n == destLen,
          s"zstd chunk decode failed (rc=$n, want $destLen bytes)")
        dst
      case Some(c) if c == "blosc" || c.startsWith("blosc:") =>
        Blosc.decode(payload)
      case Some("none") | None => payload
      case Some(other) => throw new IllegalArgumentException(
        s"unsupported compressor: $other (supported: null, zlib, gzip, zstd, blosc)")
    }
    val le = if (meta.bigEndian) swapEndian(raw, storedItemsize(meta)) else raw
    widenBytes(meta, le)
  }

  /** Lossless read-side widening: stored u2/u4/f2 payloads become the
    * kernel's i4/i8/f4 (zero-extension for unsigned ints; IEEE 754
    * half→single for float16, preserving subnormals, ±0, ±Inf, NaN). */
  private def widenBytes(meta: ArrayMeta, bytes: Array[Byte]): Array[Byte] =
    meta.widenFrom match {
      case None => bytes
      case Some("<u2") =>
        val in = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val out = java.nio.ByteBuffer.allocate(bytes.length * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i + 2 <= bytes.length) {
          out.putInt(in.getShort(i) & 0xffff); i += 2
        }
        out.array()
      case Some("<u4") =>
        val in = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val out = java.nio.ByteBuffer.allocate(bytes.length * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i + 4 <= bytes.length) {
          out.putLong(in.getInt(i) & 0xffffffffL); i += 4
        }
        out.array()
      case Some("<f2") =>
        val in = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val out = java.nio.ByteBuffer.allocate(bytes.length * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i + 2 <= bytes.length) {
          out.putFloat(halfToFloat(in.getShort(i) & 0xffff)); i += 2
        }
        out.array()
      case Some(other) =>
        throw new IllegalStateException(s"unknown widenFrom $other")
    }

  /** IEEE 754 binary16 → binary32 (exact: every half value is
    * representable in single precision). */
  private[sources] def halfToFloat(h: Int): Float = {
    val s = (h >> 15) & 1
    val e = (h >> 10) & 0x1f
    val f = h & 0x3ff
    val bits =
      if (e == 0) {
        if (f == 0) s << 31 // ±0
        else { // subnormal: value = f * 2^-24 — normalize into single
          var e2 = 0
          var f2 = f
          while ((f2 & 0x400) == 0) { f2 <<= 1; e2 += 1 }
          (s << 31) | ((127 - 15 + 1 - e2) << 23) | ((f2 & 0x3ff) << 13)
        }
      } else if (e == 31) (s << 31) | 0x7f800000 | (f << 13) // ±Inf / NaN
      else (s << 31) | ((e - 15 + 127) << 23) | (f << 13)
    java.lang.Float.intBitsToFloat(bits)
  }

  /** Decode one stored chunk into an NdArray of `shape` (the full
    * padded chunk — or inner shard chunk — shape), inverse-applying the
    * v3 transpose codec's permutation when the store declares one. */
  private def decodeChunk(meta: ArrayMeta, shape: Array[Int],
                          bytes: Array[Byte]): NdArray = {
    // numcodecs pipeline order: compressor(filter(raw)) — so decompress,
    // then undo the delta filter over the stored-order buffer, then
    // inverse-permute the layout
    val raw = decodeBytes(meta, bytes)
    val unfiltered = meta.fsoFilter match {
      case Some(fso) => fsoDecode(raw, fso, meta.dtype, shape)
      case None if meta.deltaFilter => deltaDecode(raw, meta.dtype)
      case None => raw
    }
    NdArray(meta.dtype, shape, inverseTranspose(meta, shape, unfiltered))
  }

  /** Undo numcodecs `FixedScaleOffset`: the raw buffer holds `astype`
    * integers; each expands to `stored / scale + offset` in the array's
    * float dtype (numcodecs decode order: divide, then add). */
  private def fsoDecode(bytes: Array[Byte], fso: FsoFilter,
                        dtype: DType, shape: Array[Int]): Array[Byte] = {
    val n = shape.foldLeft(1L)(_ * _)
    require(bytes.length.toLong == n * fso.astype.itemsize,
      s"fixedscaleoffset chunk is ${bytes.length} bytes, expected " +
        s"$n x ${fso.astype.itemsize} (astype ${fso.astype.zarr})")
    val enc = NdArray(fso.astype, shape, bytes)
    val out = NdArray.zeros(dtype, shape)
    var i = 0L
    while (i < n) {
      out.setDouble(i, enc.getDouble(i) / fso.scale + fso.offset)
      i += 1
    }
    out.data
  }

  /** Undo numcodecs `delta` in place: stored = x[0], x[1]−x[0], … in
    * the array's own dtype; decode = running sum with the dtype's
    * native wraparound for integers. */
  private def deltaDecode(bytes: Array[Byte], dtype: DType): Array[Byte] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dtype match {
      case DType.F64 =>
        var acc = 0.0
        var i = 0
        while (i + 8 <= bytes.length) {
          acc += bb.getDouble(i); bb.putDouble(i, acc); i += 8
        }
      case DType.I64 | DType.TimeNs =>
        var acc = 0L
        var i = 0
        while (i + 8 <= bytes.length) {
          acc += bb.getLong(i); bb.putLong(i, acc); i += 8
        }
      case DType.F32 =>
        var acc = 0.0f
        var i = 0
        while (i + 4 <= bytes.length) {
          acc += bb.getFloat(i); bb.putFloat(i, acc); i += 4
        }
      case DType.I32 =>
        var acc = 0
        var i = 0
        while (i + 4 <= bytes.length) {
          acc += bb.getInt(i); bb.putInt(i, acc); i += 4
        }
      case DType.I16 =>
        var acc: Short = 0
        var i = 0
        while (i + 2 <= bytes.length) {
          acc = (acc + bb.getShort(i)).toShort; bb.putShort(i, acc); i += 2
        }
      case DType.I8 | DType.U8 =>
        var acc: Byte = 0
        var i = 0
        while (i < bytes.length) {
          acc = (acc + bytes(i)).toByte; bytes(i) = acc; i += 1
        }
      case other => throw new IllegalArgumentException(
        s"delta filter over dtype ${other.zarr} is not supported")
    }
    bytes
  }

  /** Undo the v3 `transpose` codec: `bytes` is C-order over the
    * permuted shape `[shape(order(i))]`; produce C-order over `shape`.
    * Logical dim d's element stride in the stored buffer is the C
    * stride of the stored axis j with order(j) == d; a single odometer
    * walk over logical C order copies each element with incremental
    * stride updates — O(n), no per-element index math. */
  private def inverseTranspose(meta: ArrayMeta, shape: Array[Int],
                               bytes: Array[Byte]): Array[Byte] =
    meta.transposeOrder match {
      case None => bytes
      case Some(order) =>
        val nd = shape.length
        require(order.length == nd && order.sorted == (0 until nd),
          s"transpose codec order $order is not a permutation of 0..${nd - 1}")
        val stored = Array.tabulate(nd)(i => shape(order(i)))
        val sStrides = new Array[Long](nd) // C strides of the stored shape
        var acc = 1L
        var j = nd - 1
        while (j >= 0) { sStrides(j) = acc; acc *= stored(j); j -= 1 }
        val strideForLogical = new Array[Long](nd)
        j = 0
        while (j < nd) { strideForLogical(order(j)) = sStrides(j); j += 1 }
        val item = meta.dtype.itemsize
        val out = new Array[Byte](bytes.length)
        val idx = new Array[Int](nd)
        var srcElem = 0L
        var o = 0
        while (o < out.length) {
          System.arraycopy(bytes, (srcElem * item).toInt, out, o, item)
          var d = nd - 1
          var carry = true
          while (carry && d >= 0) {
            idx(d) += 1
            srcElem += strideForLogical(d)
            if (idx(d) == shape(d)) {
              idx(d) = 0
              srcElem -= strideForLogical(d) * shape(d)
              d -= 1
            } else carry = false
          }
          o += item
        }
        out
    }

  /** Compressor-spec handling for the crc32c checksum codec: a "+crc"
    * suffix ("gzip+crc", or bare "none+crc" for checksum-only). */
  private def crcSuffixed(c: String): Boolean = c.endsWith("+crc")
  private def stripCrc(c: String): String = c.stripSuffix("+crc")

  /** Reverse the bytes of each element in place-of-copy. */
  private def swapEndian(bytes: Array[Byte], itemsize: Int): Array[Byte] = {
    if (itemsize == 1) return bytes
    val out = new Array[Byte](bytes.length)
    var base = 0
    while (base + itemsize <= bytes.length) {
      var j = 0
      while (j < itemsize) {
        out(base + j) = bytes(base + itemsize - 1 - j)
        j += 1
      }
      base += itemsize
    }
    out
  }

  /** Compress one chunk for storage; inverse of [[decodeBytes]]. */
  private def encodeBytes(meta: ArrayMeta, bytes: Array[Byte]): Array[Byte] = {
    require(!meta.bigEndian,
      "writing to big-endian stores is not supported (reads byte-swap; " +
        "a little-endian write would corrupt the array)")
    require(meta.transposeOrder.isEmpty,
      "writing into a store with the v3 transpose codec is not supported " +
        "(reads inverse-permute; a C-order write would corrupt the array)")
    require(!meta.deltaFilter,
      "writing into a delta-filtered store is not supported (reads " +
        "cumulative-sum; an unfiltered write would corrupt the array)")
    require(meta.fsoFilter.isEmpty,
      "writing into a fixedscaleoffset-filtered store is not supported " +
        "(reads scale-decode; an unpacked write would corrupt the array)")
    require(meta.cfTime.isEmpty,
      "writing into a CF-time-encoded array is not supported (reads " +
        "decode units-since-epoch; a raw ns write would corrupt it)")
    require(meta.timeUnitNs == 1L,
      "writing into a non-nanosecond datetime64 array is not supported " +
        "(reads rescale ticks to ns; an ns write would corrupt it)")
    require(meta.widenFrom.isEmpty,
      "writing into a uint16/uint32/float16 array is not supported " +
        "(reads widen to i4/i8/f4; a widened write would corrupt it)")
    require(meta.stringDType.isEmpty,
      "writing into a string-typed array is not supported (strings are " +
        "read-only coordinate arrays)")
    val body = meta.compressor.map(stripCrc) match {
      case Some("zlib") => deflate(bytes)
      case Some("gzip") => gzip(bytes)
      // level 1, matching the declared v3 codec config ({"level":1}) and
      // the gzip choice above: chunk writes are throughput-bound
      case Some("zstd") => com.github.luben.zstd.Zstd.compress(bytes, 1)
      case Some(c) if c == "blosc" || c.startsWith("blosc:") =>
        Blosc.encode(bytes, meta.dtype.itemsize, cname = bloscCname(c),
          bitShuffle = bloscBit(c))
      case Some("none") | None => bytes
      case Some(other) => throw new IllegalArgumentException(
        s"unsupported compressor: $other (supported: null, zlib, gzip, zstd, blosc)")
    }
    if (meta.compressor.exists(crcSuffixed))
      body ++ java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(crc32c(body)).array()
    else body
  }

  /** "blosc" → lz4 (numcodecs' default cname); "blosc:zstd" etc. select
    * the inner codec explicitly; a ":bit" suffix ("blosc:lz4:bit")
    * selects the bit-shuffle filter instead of byte shuffle. */
  private def bloscCname(c: String): String =
    if (c.startsWith("blosc:")) c.split(":")(1) else "lz4"

  private def bloscBit(c: String): Boolean = c.endsWith(":bit")

  // --------------------------------------------------------------- helpers

  private def writeJson(store: BlobStore, url: String, s: String): Unit =
    store.write(url, s.getBytes("UTF-8"))

  private def attrsJson(attrs: Map[String, String]): String =
    attrs.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":\"" + v + "\""
    }.mkString("{", ",", "}")

  private def jsonToAttrs(n: JsonNode): Map[String, String] = {
    val names = n.fieldNames()
    val b = Map.newBuilder[String, String]
    while (names.hasNext) {
      val k = names.next()
      if (!k.startsWith("_")) b += k -> n.get(k).asText
    }
    b.result()
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater(1)
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream(data.length / 2 + 64)
    val buf = new Array[Byte](65536)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def gzip(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length / 2 + 64)
    // level 1 to match the declared v3 codec config ({"level":1}) — the
    // JDK default (6) would silently spend ~4x the CPU per chunk write
    val g = new java.util.zip.GZIPOutputStream(out) { `def`.setLevel(1) }
    g.write(data); g.finish(); g.close()
    out.toByteArray
  }

  private def gunzip(data: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(data))
    val out = new ByteArrayOutputStream(data.length * 4 + 64)
    val buf = new Array[Byte](65536)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new ByteArrayOutputStream(data.length * 4 + 64)
    val buf = new Array[Byte](65536)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      if (n == 0 && inf.needsInput()) throw new IllegalStateException("truncated zlib data")
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }
}
