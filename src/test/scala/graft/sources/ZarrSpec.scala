package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.Fixtures.arange
import graft.core.{Template, VarSpec}
import graft.ndarray.{DType, NdArray}

class ZarrSpec extends AnyFunSuite {

  def tmpStore(): String =
    Files.createTempDirectory("zarrspec").toString

  val template = Template(
    Seq("t" -> 10L, "x" -> 6L),
    Map("v" -> VarSpec(Seq("t", "x"), DType.F64)),
    coords = Map("t" -> arange(DType.I64, 10)),
    attrs = Map("title" -> "spec"))

  test("mem:// store: setup + region write + reopen + read roundtrip") {
    // the same store-layer pipeline as the local-FS roundtrips, but
    // over the in-memory object store — exercises the scheme dispatch
    // end-to-end, including the StagedWrites batch flush inside
    // setupStore (one put per staged metadata blob, no renames)
    val path = "mem://bucket/zarrspec-roundtrip"
    MemStore.clear(path)
    Zarr.setupStore(path, template, Map("t" -> 4, "x" -> 6), Some("zlib"))
    assert(MemStore.isContainer(s"$path/v"))
    val meta = Zarr.readArrayMeta(path, "v")
    assert(meta.compressor.contains("zlib"))
    val data = arange(DType.F64, 10, 6)
    Zarr.writeRegion(path, "v", meta, Array(0L, 0L), data)
    val opened = Zarr.openStore(path)
    assert(opened.dims == Seq("t" -> 10L, "x" -> 6L))
    assert(Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(10, 6))
      .sameAs(data))
    val mid = Zarr.readRegion(path, "v", meta, Array(3L, 2L), Array(4, 3))
    assert(mid.sameAs(data.slice(Array(3, 2), Array(4, 3))))
    MemStore.clear(path)
  }

  test("setup + region write + read roundtrip (uneven edge chunks)") {
    val path = tmpStore()
    val chunks = Map("t" -> 4, "x" -> 6)
    Zarr.setupStore(path, template, chunks)
    val meta = Zarr.readArrayMeta(path, "v")
    assert(meta.shape == Seq(10L, 6L) && meta.chunks == Seq(4, 6))
    // write three regions: [0,4), [4,8), [8,10) — the last one uneven
    val data = arange(DType.F64, 10, 6)
    Zarr.writeRegion(path, "v", meta, Array(0L, 0L), data.slice(Array(0, 0), Array(4, 6)))
    Zarr.writeRegion(path, "v", meta, Array(4L, 0L), data.slice(Array(4, 0), Array(4, 6)))
    Zarr.writeRegion(path, "v", meta, Array(8L, 0L), data.slice(Array(8, 0), Array(2, 6)))
    val back = Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(10, 6))
    assert(back.sameAs(data))
    // arbitrary unaligned region read spans blocks
    val mid = Zarr.readRegion(path, "v", meta, Array(3L, 2L), Array(4, 3))
    assert(mid.sameAs(data.slice(Array(3, 2), Array(4, 3))))
  }

  test("a region of exactly one stored chunk is written as the array's bytes") {
    val path = tmpStore()
    Zarr.setupStore(path, template, Map("t" -> 4, "x" -> 6))
    val meta = Zarr.readArrayMeta(path, "v")
    val block = arange(DType.F64, 10, 6).slice(Array(4, 0), Array(4, 6))
    val before = block.data.clone()
    Zarr.writeRegion(path, "v", meta, Array(4L, 0L), block)
    assert(block.data.sameElements(before), "the source array is unchanged")
    // uncompressed v2 chunk file 1.0 holds exactly the region's bytes
    assert(Files.readAllBytes(java.nio.file.Paths.get(path, "v", "1.0"))
      .sameElements(before))
    assert(Zarr.readRegion(path, "v", meta, Array(4L, 0L), Array(4, 6)).sameAs(block))
  }

  test("openStore infers dims/vars/coords/attrs and stored chunking") {
    val path = tmpStore()
    Zarr.setupStore(path, template, Map("t" -> 5, "x" -> 3))
    val store = Zarr.openStore(path)
    assert(store.dims.toMap == Map("t" -> 10L, "x" -> 6L))
    assert(store.dataVars.keySet == Set("v"))
    assert(store.coordVars.keySet == Set("t"))
    assert(store.inferChunks == Map("t" -> 5, "x" -> 3))
    assert(store.attrs == Map("title" -> "spec"))
    val coord = Zarr.readCoord(path, "t").get
    assert(coord.toLongs.toSeq == (0L until 10L))
    assert(Files.exists(java.nio.file.Paths.get(path, ".zmetadata")))
  }

  test("zlib compression roundtrips") {
    val path = tmpStore()
    Zarr.setupStore(path, template, Map("t" -> 4, "x" -> 6), Some("zlib"))
    val meta = Zarr.readArrayMeta(path, "v")
    assert(meta.compressor.contains("zlib"))
    val data = arange(DType.F64, 10, 6)
    Zarr.writeRegion(path, "v", meta, Array(0L, 0L), data)
    assert(Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(10, 6)).sameAs(data))
  }

  test("blosc compression roundtrips (v2, lz4 + zstd + blosclz cnames)") {
    for (comp <- Seq("blosc", "blosc:zstd", "blosc:blosclz")) {
      val path = tmpStore()
      Zarr.setupStore(path, template, Map("t" -> 4, "x" -> 6), Some(comp))
      val meta = Zarr.readArrayMeta(path, "v")
      assert(meta.compressor.exists(_.startsWith("blosc")))
      // the .zarray carries the full numcodecs blosc object
      val za = new String(Files.readAllBytes(
        java.nio.file.Paths.get(path, "v", ".zarray")), "UTF-8")
      assert(za.contains("\"id\":\"blosc\"") && za.contains("\"shuffle\":1"))
      val data = arange(DType.F64, 10, 6)
      Zarr.writeRegion(path, "v", meta, Array(0L, 0L), data)
      assert(Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(10, 6))
        .sameAs(data))
      val mid = Zarr.readRegion(path, "v", meta, Array(3L, 2L), Array(4, 3))
      assert(mid.sameAs(data.slice(Array(3, 2), Array(4, 3))))
    }
  }

  test("blosc bit-shuffle filter roundtrips; .zarray advertises shuffle=2") {
    for (comp <- Seq("blosc:lz4:bit", "blosc:zstd:bit")) {
      val path = tmpStore()
      Zarr.setupStore(path, template, Map("t" -> 4, "x" -> 6), Some(comp))
      val za = new String(Files.readAllBytes(
        java.nio.file.Paths.get(path, "v", ".zarray")), "UTF-8")
      assert(za.contains("\"shuffle\":2"), za) // numcodecs BITSHUFFLE
      val meta = Zarr.readArrayMeta(path, "v")
      val data = arange(DType.F64, 10, 6)
      Zarr.writeRegion(path, "v", meta, Array(0L, 0L), data)
      // the stored frame itself must carry the bit-shuffle flag
      val frame = Files.readAllBytes(
        java.nio.file.Paths.get(path, "v", "0.0"))
      assert((frame(2) & 0x04) != 0, s"$comp frame flags=${frame(2)}")
      assert(Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(10, 6))
        .sameAs(data))
      val mid = Zarr.readRegion(path, "v", meta, Array(3L, 2L), Array(4, 3))
      assert(mid.sameAs(data.slice(Array(3, 2), Array(4, 3))))
    }
  }

  test("blosc inside v3 sharding_indexed shards roundtrips") {
    val path = tmpStore()
    Zarr.setupStore(path, template, Map("t" -> 2, "x" -> 6), Some("blosc"),
      zarrFormat = 3, shards = Map("t" -> 4, "x" -> 6))
    val meta = Zarr.readArrayMeta(path, "v")
    assert(meta.shardChunks.contains(Seq(2, 6)) &&
      meta.compressor.exists(_.startsWith("blosc")))
    val data = arange(DType.F64, 10, 6)
    Zarr.writeRegion(path, "v", meta, Array(0L, 0L), data)
    assert(Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(10, 6))
      .sameAs(data))
  }

  test("blosc roundtrips through zarr v3 codec metadata") {
    val path = tmpStore()
    Zarr.setupStore(path, template, Map("t" -> 4, "x" -> 6), Some("blosc"),
      zarrFormat = 3)
    val meta = Zarr.readArrayMeta(path, "v")
    assert(meta.format == 3 && meta.compressor.exists(_.startsWith("blosc")))
    val data = arange(DType.F64, 10, 6)
    Zarr.writeRegion(path, "v", meta, Array(0L, 0L), data)
    assert(Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(10, 6))
      .sameAs(data))
  }

  test("small integer dtypes (i2/i1/u1/b1) roundtrip v2+v3, raw and blosc") {
    import graft.core.{Template => Tpl, VarSpec => VS}
    val cases = Seq(
      (DType.I16, Array(-32768.0, -1.0, 0.0, 17.0, 32767.0, 5.0)),
      (DType.I8, Array(-128.0, -1.0, 0.0, 17.0, 127.0, 5.0)),
      (DType.U8, Array(0.0, 1.0, 128.0, 200.0, 255.0, 5.0)),
      (DType.Bool, Array(1.0, 0.0, 1.0, 1.0, 0.0, 0.0)))
    for ((dt, vals) <- cases; fmt <- Seq(2, 3);
         comp <- Seq(None, Some("blosc"))) {
      val path = tmpStore()
      val tpl = Tpl(Seq("t" -> 6L), Map("v" -> VS(Seq("t"), dt)),
        Map.empty, Map.empty)
      Zarr.setupStore(path, tpl, Map("t" -> 4), comp, zarrFormat = fmt)
      val meta = Zarr.readArrayMeta(path, "v")
      assert(meta.dtype == dt, s"$dt fmt=$fmt")
      val arr = NdArray.fromDoubles(dt, Array(6), vals)
      Zarr.writeRegion(path, "v", meta, Array(0L), arr)
      val back = Zarr.readRegion(path, "v", meta, Array(0L), Array(6))
      assert(back.toDoubles.toSeq == vals.toSeq,
        s"$dt fmt=$fmt comp=$comp: ${back.toDoubles.toSeq}")
    }
  }

  test("CF scale_factor/add_offset decode (packed int16 reads as float64)") {
    for (fmt <- Seq(2, 3)) {
      val path = tmpStore()
      Zarr.writeArrayMeta(path, "v", Seq(6L), Seq(4), DType.I16, Seq("t"),
        compressor = None, zarrFormat = fmt, cfScale = Some((0.5, 10.0)))
      val meta = Zarr.readArrayMeta(path, "v")
      assert(meta.cfScale.contains((0.5, 10.0)), s"fmt=$fmt")
      val stored = NdArray.fromDoubles(DType.I16, Array(6),
        Array(0.0, 1.0, 2.0, -4.0, 100.0, 7.0))
      Zarr.writeRegion(path, "v", meta, Array(0L), stored)
      val decoded = Zarr.decodeCf(meta,
        Zarr.readRegion(path, "v", meta, Array(0L), Array(6)))
      assert(decoded.dtype == DType.F64)
      assert(decoded.toDoubles.toSeq ==
        Seq(10.0, 10.5, 11.0, 8.0, 60.0, 13.5), s"fmt=$fmt")
      // the store-level template reports the decoded dtype
      if (fmt == 2) {
        val st = Zarr.openStore(path)
        assert(st.template.vars("v").dtype == DType.F64)
      }
    }
  }

  test("CF _FillValue masks to NaN before scaling (xarray order)") {
    val path = tmpStore()
    Zarr.writeArrayMeta(path, "v", Seq(4L), Seq(4), DType.I16, Seq("t"),
      compressor = None, cfScale = Some((0.5, 10.0)))
    // stamp _FillValue the way an external producer would
    val zattrs = java.nio.file.Paths.get(path, "v", ".zattrs")
    val at = new String(java.nio.file.Files.readAllBytes(zattrs), "UTF-8")
    java.nio.file.Files.write(zattrs,
      at.stripSuffix("}").concat(""","_FillValue":-9999}""").getBytes("UTF-8"))
    val meta = Zarr.readArrayMeta(path, "v")
    assert(meta.cfFill.contains(-9999.0))
    Zarr.writeRegion(path, "v", meta, Array(0L),
      NdArray.fromDoubles(DType.I16, Array(4), Array(2.0, -9999.0, 4.0, 0.0)))
    val dec = Zarr.decodeCf(meta,
      Zarr.readRegion(path, "v", meta, Array(0L), Array(4))).toDoubles
    assert(dec(0) == 11.0 && dec(1).isNaN && dec(2) == 12.0 && dec(3) == 10.0)
  }

  test("v2 dimension_separator '/' (nested chunk dirs) reads and writes") {
    val path = tmpStore()
    // hand-write the .zarray with the nested separator, as zarr 2.8+
    // producers do
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "v"))
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "v", ".zarray"),
      ("""{"chunks":[4,3],"compressor":null,"dtype":"<f8","fill_value":"NaN",""" +
        """"filters":null,"order":"C","shape":[10,6],"zarr_format":2,""" +
        """"dimension_separator":"/"}""").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "v", ".zattrs"),
      """{"_ARRAY_DIMENSIONS":["t","x"]}""".getBytes("UTF-8"))
    val meta = Zarr.readArrayMeta(path, "v")
    assert(meta.keySep == "/")
    val data = arange(DType.F64, 10, 6)
    Zarr.writeRegion(path, "v", meta, Array(0L, 0L), data)
    // chunks landed as nested dirs, not dot-named files
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(path, "v", "0", "0")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "v", "0.0")))
    assert(Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(10, 6))
      .sameAs(data))
  }

  test("v2 filters are rejected loudly (no silent wrong decode); 1-d F-order is C") {
    def writeZa(body: String): String = {
      val path = tmpStore()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "v"))
      java.nio.file.Files.write(java.nio.file.Paths.get(path, "v", ".zarray"),
        body.getBytes("UTF-8"))
      java.nio.file.Files.write(java.nio.file.Paths.get(path, "v", ".zattrs"),
        """{"_ARRAY_DIMENSIONS":["t"]}""".getBytes("UTF-8"))
      path
    }
    // a filter we can't decode exactly stays a loud reject (bitround is
    // lossy-at-encode but changes no bytes we could verify; packbits
    // and friends stay out too)
    val withFilters = writeZa(
      """{"chunks":[4],"compressor":null,"dtype":"<f8","fill_value":0,""" +
        """"filters":[{"id":"bitround","keepbits":7}],"order":"C","shape":[8],"zarr_format":2}""")
    val e1 = intercept[IllegalArgumentException](
      Zarr.readArrayMeta(withFilters, "v"))
    assert(e1.getMessage.contains("filter"))
    // a delta filter chained with another filter is also rejected
    val chained = writeZa(
      """{"chunks":[4],"compressor":null,"dtype":"<f8","fill_value":0,""" +
        """"filters":[{"id":"delta","dtype":"<f8"},{"id":"shuffle"}],"order":"C","shape":[8],"zarr_format":2}""")
    val e1b = intercept[IllegalArgumentException](
      Zarr.readArrayMeta(chained, "v"))
    assert(e1b.getMessage.contains("filters"))
    // a dtype-CHANGING delta (astype narrower than the array) is rejected
    val astype = writeZa(
      """{"chunks":[4],"compressor":null,"dtype":"<f8","fill_value":0,""" +
        """"filters":[{"id":"delta","dtype":"<f8","astype":"<f4"}],"order":"C","shape":[8],"zarr_format":2}""")
    val e1c = intercept[IllegalArgumentException](
      Zarr.readArrayMeta(astype, "v"))
    assert(e1c.getMessage.contains("astype"))
    // 1-d F-order is byte-identical to C: reads as a plain array with no
    // transpose (multi-d F-order reads via the transpose path — see the
    // dedicated F-order test)
    val fOrder = writeZa(
      """{"chunks":[4],"compressor":null,"dtype":"<f8","fill_value":0,""" +
        """"filters":null,"order":"F","shape":[8],"zarr_format":2}""")
    assert(Zarr.readArrayMeta(fOrder, "v").transposeOrder.isEmpty)
  }

  test("big-endian v2 stores byte-swap on read; writes are refused") {
    val path = tmpStore()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "v"))
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "v", ".zarray"),
      ("""{"chunks":[4],"compressor":null,"dtype":">f8","fill_value":0,""" +
        """"filters":null,"order":"C","shape":[4],"zarr_format":2}""").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "v", ".zattrs"),
      """{"_ARRAY_DIMENSIONS":["t"]}""".getBytes("UTF-8"))
    val meta = Zarr.readArrayMeta(path, "v")
    assert(meta.bigEndian && meta.dtype == DType.F64)
    // write the chunk bytes big-endian by hand
    val bb = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    Seq(1.5, -2.0, 3.25, 1e300).foreach(bb.putDouble)
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "v", "0"), bb.array())
    val got = Zarr.readRegion(path, "v", meta, Array(0L), Array(4))
    assert(got.toDoubles.toSeq == Seq(1.5, -2.0, 3.25, 1e300))
    val e = intercept[IllegalArgumentException](
      Zarr.writeRegion(path, "v", meta, Array(0L), got))
    assert(e.getMessage.contains("big-endian"))
  }

  test("missing blocks read as fill value (NaN for floats)") {
    val path = tmpStore()
    Zarr.setupStore(path, template, Map("t" -> 4, "x" -> 6))
    val meta = Zarr.readArrayMeta(path, "v")
    val r = Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(2, 2))
    assert(r.toDoubles.forall(_.isNaN))
  }

  test("zarr v3: metadata + c/-keys + gzip roundtrip, uneven edges") {
    val path = tmpStore()
    val chunks = Map("t" -> 4, "x" -> 6)
    Zarr.setupStore(path, template, chunks, Some("gzip"), zarrFormat = 3)
    assert(Files.exists(java.nio.file.Paths.get(path, "zarr.json")))
    assert(Files.exists(java.nio.file.Paths.get(path, "v", "zarr.json")))
    val meta = Zarr.readArrayMeta(path, "v")
    assert(meta.format == 3 && meta.compressor.contains("gzip"))
    assert(meta.shape == Seq(10L, 6L) && meta.chunks == Seq(4, 6))
    assert(meta.dims == Seq("t", "x"))
    val data = arange(DType.F64, 10, 6)
    Zarr.writeRegion(path, "v", meta, Array(0L, 0L), data.slice(Array(0, 0), Array(8, 6)))
    Zarr.writeRegion(path, "v", meta, Array(8L, 0L), data.slice(Array(8, 0), Array(2, 6)))
    assert(Files.exists(java.nio.file.Paths.get(path, "v", "c", "0", "0")))
    assert(Files.exists(java.nio.file.Paths.get(path, "v", "c", "2", "0")))
    assert(Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(10, 6)).sameAs(data))
    // non-aligned read spanning block boundaries
    assert(Zarr.readRegion(path, "v", meta, Array(3L, 1L), Array(5, 4)).sameAs(
      data.slice(Array(3, 1), Array(5, 4))))
    // store-level open sees the same template + attrs as v2
    val store = Zarr.openStore(path)
    assert(store.template.dimSizes == Map("t" -> 10L, "x" -> 6L))
    assert(store.attrs == Map("title" -> "spec"))
    assert(store.inferChunks == Map("t" -> 4, "x" -> 6))
    // coordinate array round-trips through the v3 path too
    assert(Zarr.readCoord(path, "t").get.sameAs(arange(DType.I64, 10)))
  }

  test("zarr v3 sharding_indexed: shard files + index roundtrip") {
    val path = tmpStore()
    // inner chunks 2x3 packed into 4x6 shards (2x2 inner grid per shard)
    Zarr.setupStore(path, template, Map("t" -> 2, "x" -> 3), Some("gzip"),
      zarrFormat = 3, shards = Map("t" -> 4, "x" -> 6))
    val meta = Zarr.readArrayMeta(path, "v")
    assert(meta.format == 3)
    assert(meta.chunks == Seq(4, 6), "chunk grid addresses shards")
    assert(meta.shardChunks.contains(Seq(2, 3)))
    assert(meta.compressor.contains("gzip"))
    val data = arange(DType.F64, 10, 6)
    // whole-shard region writes: [0,4), [4,8), [8,10) (edge shard)
    Zarr.writeRegion(path, "v", meta, Array(0L, 0L), data.slice(Array(0, 0), Array(8, 6)))
    Zarr.writeRegion(path, "v", meta, Array(8L, 0L), data.slice(Array(8, 0), Array(2, 6)))
    assert(Files.exists(java.nio.file.Paths.get(path, "v", "c", "0", "0")))
    assert(Files.exists(java.nio.file.Paths.get(path, "v", "c", "2", "0")))
    assert(Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(10, 6)).sameAs(data))
    // sub-shard read crossing shard and inner-chunk boundaries
    assert(Zarr.readRegion(path, "v", meta, Array(3L, 2L), Array(6, 3)).sameAs(
      data.slice(Array(3, 2), Array(6, 3))))
  }

  test("zarr v3 sharded end-to-end: toZarr(shards) → fromZarr → identical") {
    val spark = graft.TestSpark.spark
    val path = tmpStore() + "/v3shards"
    val xds = graft.api.XbeamDataset.fromLocal(spark, graft.Fixtures.era5(),
      chunks = Map("time" -> 4))
    xds.toZarr(path, zarrChunks = Map("time" -> 2), compressor = Some("gzip"),
      zarrFormat = 3, zarrShards = Map("time" -> 4))
    val back = graft.api.XbeamDataset.fromZarr(spark, path)
    assert(back.chunkSizes("time") == 4) // stored grid = shards
    val (_, c) = back.collectConsolidated()
    assert(c.vars("temperature").arr.sameAs(graft.Fixtures.era5()("temperature")._2))
    assert(c.vars("precip").arr.sameAs(graft.Fixtures.era5()("precip")._2))
  }

  test("zarr v3 end-to-end: toZarr(format=3) → fromZarr → identical") {
    val spark = graft.TestSpark.spark
    val path = tmpStore() + "/v3store"
    val xds = graft.api.XbeamDataset.fromLocal(spark, graft.Fixtures.era5(),
      chunks = Map("time" -> 4))
    xds.toZarr(path, compressor = Some("gzip"), zarrFormat = 3)
    val back = graft.api.XbeamDataset.fromZarr(spark, path)
    val (_, c) = back.collectConsolidated()
    assert(c.vars("temperature").arr.sameAs(graft.Fixtures.era5()("temperature")._2))
    assert(c.vars("precip").arr.sameAs(graft.Fixtures.era5()("precip")._2))
  }

  test("zarr v3 consolidated metadata: one root GET opens the store") {
    val path = tmpStore()
    Zarr.setupStore(path, template, Map("t" -> 4, "x" -> 6), zarrFormat = 3)
    // root zarr.json embeds every array node (zarr-python's v3
    // consolidated convention)
    val root = new String(Files.readAllBytes(
      java.nio.file.Paths.get(path, "zarr.json")), "UTF-8")
    assert(root.contains("consolidated_metadata"))
    assert(root.contains("\"must_understand\":false"))
    // delete the per-array files: the consolidated root alone must
    // fully describe the store (proves openStore uses it, no listing)
    Files.delete(java.nio.file.Paths.get(path, "v", "zarr.json"))
    Files.delete(java.nio.file.Paths.get(path, "t", "zarr.json"))
    val sm = Zarr.openStore(path)
    assert(sm.arrays.keySet == Set("v", "t"))
    assert(sm.dims.toMap == Map("t" -> 10L, "x" -> 6L))
    assert(sm.attrs == Map("title" -> "spec"))
  }

  test("extendDim refreshes the v3 consolidated root") {
    val spark = graft.TestSpark.spark
    val path = tmpStore() + "/v3grow"
    val xds = graft.api.XbeamDataset.fromLocal(spark, graft.Fixtures.era5(),
      chunks = Map("time" -> 4))
    xds.toZarr(path, zarrFormat = 3)
    Zarr.extendDim(path, "time", 16L)
    // reopen THROUGH the consolidated root (delete per-array files)
    graft.sources.LocalFsStore.listChildren(path).foreach { n =>
      Files.deleteIfExists(java.nio.file.Paths.get(path, n, "zarr.json"))
    }
    val sm = Zarr.openStore(path)
    assert(sm.dims.toMap.apply("time") == 16L)
  }

  test("misaligned region write is rejected (race prevention, zarr.py:517-587)") {
    val path = tmpStore()
    Zarr.setupStore(path, template, Map("t" -> 4, "x" -> 6))
    val meta = Zarr.readArrayMeta(path, "v")
    assertThrows[IllegalArgumentException] {
      Zarr.writeRegion(path, "v", meta, Array(2L, 0L), arange(DType.F64, 4, 6))
    }
    // region ending mid-chunk (not at array edge) also rejected
    assertThrows[IllegalArgumentException] {
      Zarr.writeRegion(path, "v", meta, Array(0L, 0L), arange(DType.F64, 3, 6))
    }
  }

  test("extendDim grows shapes + coord; appended regions write and read") {
    val path = tmpStore()
    // t=10 with chunk t=5: chunk-aligned old extent, eligible for append
    Zarr.setupStore(path, template, Map("t" -> 5, "x" -> 6))
    val meta0 = Zarr.readArrayMeta(path, "v")
    val data = arange(DType.F64, 10, 6)
    Zarr.writeRegion(path, "v", meta0, Array(0L, 0L), data)
    Zarr.extendDim(path, "t", 14L,
      coordTail = Some(NdArray.fromLongs(DType.I64, Array(4),
        Array(10L, 11L, 12L, 13L))))
    val store = Zarr.openStore(path)
    assert(store.dims.toMap == Map("t" -> 14L, "x" -> 6L))
    assert(store.arrays("v").chunks == Seq(5, 6)) // grid unchanged
    assert(Zarr.readCoord(path, "t").get.toLongs.toSeq == (0L until 14L))
    // append the new region [10, 14) and read the whole array back
    val meta1 = store.arrays("v")
    val tail = arange(DType.F64, 4, 6).mapF64(_ + 60)
    Zarr.writeRegion(path, "v", meta1, Array(10L, 0L), tail)
    val back = Zarr.readRegion(path, "v", meta1, Array(0L, 0L), Array(14, 6))
    assert(back.slice(Array(0, 0), Array(10, 6)).sameAs(data))
    assert(back.slice(Array(10, 0), Array(4, 6)).sameAs(tail))
    // existing data blocks were not rewritten by the metadata surgery
    assert(Zarr.readRegion(path, "v", meta1, Array(0L, 0L), Array(10, 6))
      .sameAs(data))
  }

  test("sharded partial read fetches the index + one inner chunk, not the shard") {
    val path = tmpStore()
    val big = Template(
      Seq("t" -> 64L, "x" -> 32L),
      Map("v" -> VarSpec(Seq("t", "x"), DType.F64)),
      coords = Map("t" -> arange(DType.I64, 64)), attrs = Map.empty)
    // inner chunks 8x8 (4 KiB raw) packed into 32x32 shards (16 inner
    // chunks per shard), uncompressed so every size is predictable
    Zarr.setupStore(path, big, Map("t" -> 8, "x" -> 8), zarrFormat = 3,
      shards = Map("t" -> 32, "x" -> 32))
    val meta = Zarr.readArrayMeta(path, "v")
    val data = arange(DType.F64, 64, 32)
    // write the first shard row only: shards at t >= 32 stay absent
    Zarr.writeRegion(path, "v", meta, Array(0L, 0L),
      data.slice(Array(0, 0), Array(32, 32)))
    val shardBytes = Files.size(java.nio.file.Paths.get(path, "v", "c", "0", "0"))
    BlobStore.bytesFetched.set(0L)
    val got = Zarr.readRegion(path, "v", meta, Array(8L, 8L), Array(8, 8))
    assert(got.sameAs(data.slice(Array(8, 8), Array(8, 8))))
    val fetched = BlobStore.bytesFetched.get()
    // exactly one inner chunk (1/16th of the shard) + the 260-byte
    // index — never the whole shard file (the 100 TB posture the
    // sharded layout exists for)
    assert(fetched > 16 * 16 + 4,
      s"fetched $fetched — less than the index alone?")
    assert(fetched < shardBytes / 4,
      s"partial read fetched $fetched of the $shardBytes-byte shard")
    // dense reads flip to ONE whole-blob get (the adaptive choice:
    // selection covers >= graft.shardWholeReadFraction of the shard,
    // so stat + index range + run range would be pure overhead)
    BlobStore.rangeFetches.set(0L)
    BlobStore.bytesFetched.set(0L)
    val whole = Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(32, 32))
    assert(whole.sameAs(data.slice(Array(0, 0), Array(32, 32))))
    assert(BlobStore.rangeFetches.get() == 0L,
      s"dense shard read must fetch whole, got ${BlobStore.rangeFetches.get()} ranged reads")
    assert(BlobStore.bytesFetched.get() == shardBytes,
      s"dense shard read must fetch the file once (${BlobStore.bytesFetched.get()} vs $shardBytes)")
    // byte-adjacent inner chunks coalesce on the ranged path: a
    // full-shard region read forced ranged is the index + ONE merged
    // run — 2 ranged reads, not 1 + 16
    try {
      sys.props("graft.shardWholeReadFraction") = "1.1" // never whole
      BlobStore.rangeFetches.set(0L)
      val ranged = Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(32, 32))
      assert(ranged.sameAs(data.slice(Array(0, 0), Array(32, 32))))
      assert(BlobStore.rangeFetches.get() == 2L,
        s"expected index + one coalesced run, got ${BlobStore.rangeFetches.get()}")
    } finally sys.props -= "graft.shardWholeReadFraction"
    // absent shard: sizeIfExists short-circuits to fill, zero fetches
    BlobStore.bytesFetched.set(0L)
    val fill = Zarr.readRegion(path, "v", meta, Array(32L, 0L), Array(4, 4))
    assert((0 until 4).forall(i => (0 until 4).forall(j =>
      fill.getDouble(i * 4 + j).isNaN)))
    assert(BlobStore.bytesFetched.get() == 0L)
  }

  test("toZarr shard-grid violations fail at plan time, naming the dim") {
    val spark = graft.TestSpark.spark
    val xds = graft.api.XbeamDataset.fromLocal(spark, graft.Fixtures.era5(),
      chunks = Map("time" -> 4))
    // shards on EXPLICIT v2: sharding_indexed is a v3 codec (with the
    // format left at auto, shards imply v3 — dataset.py:857-858)
    val e1 = intercept[IllegalArgumentException] {
      xds.toZarr(tmpStore() + "/s", zarrFormat = 2,
        zarrShards = Map("time" -> 4))
    }
    assert(e1.getMessage.contains("requires zarr format 3"))
    // unknown dim
    val e2 = intercept[IllegalArgumentException] {
      xds.toZarr(tmpStore() + "/s", zarrFormat = 3,
        zarrShards = Map("nope" -> 4))
    }
    assert(e2.getMessage.contains("unknown dim nope"))
    // shard not a multiple of the stored chunk
    val e3 = intercept[IllegalArgumentException] {
      xds.toZarr(tmpStore() + "/s", zarrChunks = Map("time" -> 3),
        zarrFormat = 3, zarrShards = Map("time" -> 4))
    }
    assert(e3.getMessage.contains("time") &&
      e3.getMessage.contains("not a multiple of zarr chunk"))
    // in-memory chunk not a whole multiple of the shard (sub-shard
    // writes would race, same rule as sub-chunk writes)
    val e4 = intercept[IllegalArgumentException] {
      xds.toZarr(tmpStore() + "/s", zarrChunks = Map("time" -> 2),
        zarrFormat = 3, zarrShards = Map("time" -> 8))
    }
    assert(e4.getMessage.contains("time") &&
      e4.getMessage.contains("in-memory chunk"))
  }

  test("toZarr zarrChunksPerShard: defaults, ellipsis, round-up, errors") {
    // ports dataset_test.py:725-833 (test_to_zarr_chunks_per_shard and
    // test_to_zarr_shards_round_up) onto the Scala surface; the "..."
    // map key is the reference's ellipsis default
    val spark = graft.TestSpark.spark
    import graft.api.XbeamDataset
    def oneD(n: Int, chunk: Int): XbeamDataset = XbeamDataset.fromLocal(
      spark, Map("foo" -> (Seq("x"),
        NdArray.fromLongs(DType.I64, Array(n), Array.tabulate(n)(_.toLong)))),
      chunks = Map("x" -> chunk))
    def metaOf(path: String) = Zarr.openStore(path).arrays("foo")
    def roundtrips(path: String, n: Int): Unit = {
      val back = XbeamDataset.fromZarr(spark, path)
        .collectConsolidated()._2.vars("foo").arr
      assert(back.toDoubles.toSeq == (0 until n).map(_.toDouble))
    }

    // simple: cps {x:2} over mem chunks {x:6} → inner 3, shard 6, auto-v3
    val p1 = tmpStore() + "/cps1"
    oneD(12, 6).toZarr(p1, zarrChunksPerShard = Map("x" -> 2))
    assert(metaOf(p1).chunks == Seq(6) && metaOf(p1).shardChunks == Some(Seq(3)))
    roundtrips(p1, 12)

    // ellipsis default: {...:2} behaves like {x:2}
    val p2 = tmpStore() + "/cps2"
    oneD(12, 6).toZarr(p2, zarrChunksPerShard = Map("..." -> 2))
    assert(metaOf(p2).chunks == Seq(6) && metaOf(p2).shardChunks == Some(Seq(3)))
    roundtrips(p2, 12)

    // named dim + ellipsis default over 2-D: {x:3, ...:1} with mem
    // chunks {x:6, y:5} → inner (2,5), shards (6,5)
    val p3 = tmpStore() + "/cps3"
    XbeamDataset.fromLocal(spark, Map("foo" -> (Seq("x", "y"),
        NdArray.fromDoubles(DType.F64, Array(12, 10),
          Array.tabulate(120)(_.toDouble)))),
      chunks = Map("x" -> 6, "y" -> 5))
      .toZarr(p3, zarrChunksPerShard = Map("x" -> 3, "..." -> 1))
    assert(metaOf(p3).chunks == Seq(6, 5) &&
      metaOf(p3).shardChunks == Some(Seq(2, 5)))

    // explicit shards override the mem-chunk default: shards {x:6} over
    // mem {x:12}, cps {x:2} → inner 3, shard 6
    val p4 = tmpStore() + "/cps4"
    oneD(24, 12).toZarr(p4, zarrChunksPerShard = Map("x" -> 2),
      zarrShards = Map("x" -> 6))
    assert(metaOf(p4).chunks == Seq(6) && metaOf(p4).shardChunks == Some(Seq(3)))
    roundtrips(p4, 24)

    // a cps key for a dim the explicit shards map does NOT name still
    // applies: shards normalize against the in-memory chunks first
    // (normalize_chunks with previous_chunks, dataset.py:812-818)
    val p5 = tmpStore() + "/cps5"
    XbeamDataset.fromLocal(spark, Map("foo" -> (Seq("x", "y"),
        NdArray.fromDoubles(DType.F64, Array(12, 10),
          Array.tabulate(120)(_.toDouble)))),
      chunks = Map("x" -> 6, "y" -> 5))
      .toZarr(p5, zarrChunksPerShard = Map("y" -> 5),
        zarrShards = Map("x" -> 6))
    // shards {x:6 explicit, y:5 from mem chunks}; inner {x:6, y:1}
    assert(metaOf(p5).chunks == Seq(6, 5) &&
      metaOf(p5).shardChunks == Some(Seq(6, 1)))

    // full-dim shards round UP to a whole chunk multiple (overhanging
    // shard, dataset_test.py:727-741): x=19, zarr chunks 10 → shard 20
    for (sh <- Seq(Map("x" -> 19), Map("x" -> 20))) {
      val p = tmpStore() + s"/rup${sh("x")}"
      oneD(19, 19).toZarr(p, zarrChunks = Map("x" -> 10), zarrShards = sh,
        zarrFormat = 3)
      assert(metaOf(p).chunks == Seq(20) &&
        metaOf(p).shardChunks == Some(Seq(10)))
      roundtrips(p, 19)
    }

    // error catalog (messages mirror dataset.py:705-732)
    val eBoth = intercept[IllegalArgumentException] {
      oneD(12, 6).toZarr(tmpStore() + "/e1",
        zarrChunksPerShard = Map("x" -> 2), zarrChunks = Map("x" -> 3))
    }
    assert(eBoth.getMessage.contains(
      "cannot supply both zarrChunksPerShard and zarrChunks"))
    val eKey = intercept[IllegalArgumentException] {
      oneD(12, 6).toZarr(tmpStore() + "/e2",
        zarrChunksPerShard = Map("y" -> 2))
    }
    assert(eKey.getMessage.contains("not dimensions in template"))
    val eDiv = intercept[IllegalArgumentException] {
      oneD(12, 6).toZarr(tmpStore() + "/e3",
        zarrChunksPerShard = Map("x" -> 5))
    }
    assert(eDiv.getMessage.contains("do not evenly divide"))
  }

  test("extendDim refuses a non-chunk-aligned old extent and shrinking") {
    val path = tmpStore()
    // t=10 with chunk t=4: old edge block [8,10) is partial
    Zarr.setupStore(path, template, Map("t" -> 4, "x" -> 6))
    val e = intercept[IllegalArgumentException] {
      Zarr.extendDim(path, "t", 12L)
    }
    assert(e.getMessage.contains("not a multiple"))
    assertThrows[IllegalArgumentException] {
      Zarr.extendDim(path, "t", 6L)
    }
  }

  test("v3 crc32c checksum codec: roundtrip, corruption detection, v2 reject") {
    val path = tmpStore()
    val chunks = Map("t" -> 4, "x" -> 6)
    Zarr.setupStore(path, template, chunks, Some("gzip+crc"), zarrFormat = 3)
    // metadata advertises the codec; openStore carries it back
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(path, "v", "zarr.json")), "UTF-8")
    assert(json.contains("\"crc32c\""))
    val meta = Zarr.readArrayMeta(path, "v")
    assert(meta.compressor.contains("gzip+crc"))
    val data = arange(DType.F64, 10, 6)
    Zarr.writeRegion(path, "v", meta, Array(0L, 0L), data)
    assert(Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(10, 6))
      .sameAs(data))
    // checksum-only (no compression) also roundtrips
    val p2 = tmpStore()
    Zarr.setupStore(p2, template, chunks, Some("none+crc"), zarrFormat = 3)
    val m2 = Zarr.readArrayMeta(p2, "v")
    assert(m2.compressor.contains("none+crc"))
    Zarr.writeRegion(p2, "v", m2, Array(0L, 0L), data)
    assert(Zarr.readRegion(p2, "v", m2, Array(0L, 0L), Array(10, 6))
      .sameAs(data))
    // a flipped payload byte fails LOUDLY, never a silent wrong decode
    val chunkFile = java.nio.file.Paths.get(p2, "v", "c", "0", "0")
    val bytes = Files.readAllBytes(chunkFile)
    bytes(3) = (bytes(3) ^ 0x40).toByte
    Files.write(chunkFile, bytes)
    val e2 = intercept[IllegalArgumentException] {
      Zarr.readRegion(p2, "v", m2, Array(0L, 0L), Array(4, 6))
    }
    assert(e2.getMessage.contains("crc32c"))
    // v2 has no checksum codec: rejected at setup
    val e3 = intercept[IllegalArgumentException] {
      Zarr.setupStore(tmpStore(), template, chunks, Some("gzip+crc"),
        zarrFormat = 2)
    }
    assert(e3.getMessage.contains("v3"))
  }

  test("v3 standalone zstd codec: our roundtrip + a hand-built stock chunk; v2 zstd too") {
    // our write → our read, v3, declared as the standard codec object
    val path = tmpStore()
    Zarr.setupStore(path, template, Map("t" -> 4, "x" -> 6), Some("zstd"),
      zarrFormat = 3)
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(path, "v", "zarr.json")), "UTF-8")
    assert(json.contains("\"name\":\"zstd\""), json)
    val meta = Zarr.readArrayMeta(path, "v")
    assert(meta.compressor.contains("zstd"))
    val data = arange(DType.F64, 10, 6)
    Zarr.writeRegion(path, "v", meta, Array(0L, 0L), data)
    assert(Zarr.readRegion(path, "v", meta, Array(0L, 0L), Array(10, 6))
      .sameAs(data))
    assert(Zarr.readRegion(path, "v", meta, Array(3L, 2L), Array(4, 3))
      .sameAs(data.slice(Array(3, 2), Array(4, 3))))
    // hand-built store, as stock zarr-python 3 writes it (codecs =
    // [bytes le, zstd], a different level than ours): decode must not
    // depend on our own encoder
    val p2 = tmpStore()
    val dir = java.nio.file.Paths.get(p2, "w")
    Files.createDirectories(dir.resolve("c").resolve("0"))
    Files.write(dir.resolve("zarr.json"),
      ("""{"zarr_format":3,"node_type":"array","shape":[4,3],""" +
        """"data_type":"float64",""" +
        """"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4,3]}},""" +
        """"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
        """"fill_value":0.0,""" +
        """"codecs":[{"name":"bytes","configuration":{"endian":"little"}},""" +
        """{"name":"zstd","configuration":{"level":7,"checksum":false}}],""" +
        """"dimension_names":["t","x"]}""").getBytes("UTF-8"))
    val raw = java.nio.ByteBuffer.allocate(12 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 12).foreach(i => raw.putDouble(i * 1.5))
    Files.write(dir.resolve("c").resolve("0").resolve("0"),
      com.github.luben.zstd.Zstd.compress(raw.array(), 7))
    val m2 = Zarr.readArrayMeta(p2, "w")
    assert(m2.compressor.contains("zstd"))
    val back = Zarr.readRegion(p2, "w", m2, Array(0L, 0L), Array(4, 3))
    assert(back.sameAs(NdArray.fromDoubles(DType.F64, Array(4, 3),
      Array.tabulate(12)(_ * 1.5))))
    // a corrupt zstd chunk fails loudly, never decodes wrong
    val cf = dir.resolve("c").resolve("0").resolve("0")
    val cb = Files.readAllBytes(cf)
    cb(cb.length - 1) = (cb(cb.length - 1) ^ 0x5a).toByte
    Files.write(cf, cb)
    intercept[Exception] {
      Zarr.readRegion(p2, "w", m2, Array(0L, 0L), Array(4, 3))
    }
    // v2: numcodecs {"id":"zstd"} roundtrips through the same spec string
    val p3 = tmpStore()
    Zarr.setupStore(p3, template, Map("t" -> 4, "x" -> 6), Some("zstd"))
    val za = new String(Files.readAllBytes(
      java.nio.file.Paths.get(p3, "v", ".zarray")), "UTF-8")
    assert(za.contains("\"id\":\"zstd\""), za)
    val m3 = Zarr.readArrayMeta(p3, "v")
    Zarr.writeRegion(p3, "v", m3, Array(0L, 0L), data)
    assert(Zarr.readRegion(p3, "v", m3, Array(0L, 0L), Array(10, 6))
      .sameAs(data))
    // zstd + crc32c codec chain roundtrips (zarr-python's checksummed
    // default combination)
    val p5 = tmpStore()
    Zarr.setupStore(p5, template, Map("t" -> 4, "x" -> 6), Some("zstd+crc"),
      zarrFormat = 3)
    val m5 = Zarr.readArrayMeta(p5, "v")
    assert(m5.compressor.contains("zstd+crc"))
    Zarr.writeRegion(p5, "v", m5, Array(0L, 0L), data)
    assert(Zarr.readRegion(p5, "v", m5, Array(0L, 0L), Array(10, 6))
      .sameAs(data))
    // zstd inside v3 shards roundtrips (the zarr-python sharded default)
    val p4 = tmpStore()
    Zarr.setupStore(p4, template, Map("t" -> 2, "x" -> 3), Some("zstd"),
      zarrFormat = 3, shards = Map("t" -> 4, "x" -> 6))
    val m4 = Zarr.readArrayMeta(p4, "v")
    assert(m4.shardChunks.contains(Seq(2, 3)) && m4.compressor.contains("zstd"))
    Zarr.writeRegion(p4, "v", m4, Array(0L, 0L), data.slice(Array(0, 0), Array(8, 6)))
    Zarr.writeRegion(p4, "v", m4, Array(8L, 0L), data.slice(Array(8, 0), Array(2, 6)))
    assert(Zarr.readRegion(p4, "v", m4, Array(0L, 0L), Array(10, 6))
      .sameAs(data))
  }

  test("v3 transpose codec reads; writes refused; unknown codecs stay loud") {
    def writeV3Array(p: String, name: String, shape: Seq[Int],
                     codecs: String, dims: Seq[String]): java.nio.file.Path = {
      val dir = java.nio.file.Paths.get(p, name)
      Files.createDirectories(dir)
      Files.write(dir.resolve("zarr.json"),
        (s"""{"zarr_format":3,"node_type":"array","shape":[${shape.mkString(",")}],""" +
          s""""data_type":"float64",""" +
          s""""chunk_grid":{"name":"regular","configuration":{"chunk_shape":[${shape.mkString(",")}]}},""" +
          s""""chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
          s""""fill_value":0.0,"codecs":[$codecs],""" +
          s""""dimension_names":[${dims.map("\"" + _ + "\"").mkString(",")}]}""").getBytes("UTF-8"))
      dir
    }
    def le(doubles: Array[Double]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(doubles.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      doubles.foreach(bb.putDouble)
      bb.array()
    }
    // 2-d, order [1,0]: logical (4,3) arange stored as its (3,4) transpose
    val p = tmpStore()
    val dir = writeV3Array(p, "w", Seq(4, 3),
      """{"name":"transpose","configuration":{"order":[1,0]}},""" +
        """{"name":"bytes","configuration":{"endian":"little"}}""",
      Seq("t", "x"))
    val logical = Array.tabulate(12)(_.toDouble) // C-order over (4,3)
    val stored2d = Array.tabulate(12) { k =>      // C-order over (3,4)
      val j = k / 4; val i = k % 4; logical(i * 3 + j)
    }
    Files.createDirectories(dir.resolve("c").resolve("0"))
    Files.write(dir.resolve("c").resolve("0").resolve("0"), le(stored2d))
    val meta = Zarr.readArrayMeta(p, "w")
    assert(meta.transposeOrder.contains(Seq(1, 0)))
    assert(Zarr.readRegion(p, "w", meta, Array(0L, 0L), Array(4, 3))
      .sameAs(NdArray.fromDoubles(DType.F64, Array(4, 3), logical)))
    // unaligned sub-region through the permuted layout
    assert(Zarr.readRegion(p, "w", meta, Array(1L, 1L), Array(2, 2))
      .sameAs(NdArray.fromDoubles(DType.F64, Array(4, 3), logical)
        .slice(Array(1, 1), Array(2, 2))))
    // writes into a transposed store are refused loudly
    val ew = intercept[IllegalArgumentException] {
      Zarr.writeRegion(p, "w", meta, Array(0L, 0L),
        NdArray.fromDoubles(DType.F64, Array(4, 3), logical))
    }
    assert(ew.getMessage.contains("transpose"))
    // 3-d, a non-trivial cycle order [2,0,1]: stored shape (4,2,3)
    val p3 = tmpStore()
    val d3 = writeV3Array(p3, "w", Seq(2, 3, 4),
      """{"name":"transpose","configuration":{"order":[2,0,1]}},""" +
        """{"name":"bytes","configuration":{"endian":"little"}}""",
      Seq("a", "b", "c"))
    val log3 = Array.tabulate(24)(_.toDouble) // C over (2,3,4)
    // stored axes = (logical 2, logical 0, logical 1) → shape (4,2,3)
    val sto3 = new Array[Double](24)
    for (i <- 0 until 2; j <- 0 until 3; k <- 0 until 4)
      sto3(k * 6 + i * 3 + j) = log3(i * 12 + j * 4 + k)
    Files.createDirectories(d3.resolve("c").resolve("0").resolve("0"))
    Files.write(d3.resolve("c").resolve("0").resolve("0").resolve("0"), le(sto3))
    val m3 = Zarr.readArrayMeta(p3, "w")
    assert(Zarr.readRegion(p3, "w", m3, Array(0L, 0L, 0L), Array(2, 3, 4))
      .sameAs(NdArray.fromDoubles(DType.F64, Array(2, 3, 4), log3)))
    // genuinely unknown codecs still fail loudly at metadata parse
    val pu = tmpStore()
    writeV3Array(pu, "w", Seq(4, 3),
      """{"name":"bytes","configuration":{"endian":"little"}},""" +
        """{"name":"frobnicate"}""", Seq("t", "x"))
    val eu = intercept[IllegalArgumentException] {
      Zarr.readArrayMeta(pu, "w")
    }
    assert(eu.getMessage.contains("unsupported v3 codec frobnicate"))
  }

  test("v2 numcodecs delta filter reads (int64 wraparound + float64); writes refused") {
    // numcodecs Delta: stored = x[0], x[1]-x[0], ... in the array's own
    // dtype — THE filter monotonic coordinate arrays ship with
    def store(dtype: String, enc: Array[Byte], compressor: String = "null"): String = {
      val p = tmpStore()
      val dir = java.nio.file.Paths.get(p, "v")
      Files.createDirectories(dir)
      Files.write(dir.resolve(".zarray"),
        (s"""{"chunks":[6],"compressor":$compressor,"dtype":"$dtype","fill_value":0,""" +
          s""""filters":[{"id":"delta","dtype":"$dtype"}],"order":"C","shape":[6],"zarr_format":2}""").getBytes("UTF-8"))
      Files.write(dir.resolve(".zattrs"),
        """{"_ARRAY_DIMENSIONS":["t"]}""".getBytes("UTF-8"))
      Files.write(dir.resolve("0"), enc)
      p
    }
    // i8 (long): 1970, +10, +10, -5, +MAX wraparound exercise via big steps
    val longs = Array(100L, 110L, 120L, 115L, 315L, 275L)
    val encL = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    longs.indices.foreach { i =>
      encL.putLong(if (i == 0) longs(0) else longs(i) - longs(i - 1))
    }
    val pL = store("<i8", encL.array())
    val mL = Zarr.readArrayMeta(pL, "v")
    assert(mL.deltaFilter)
    assert(Zarr.readRegion(pL, "v", mL, Array(0L), Array(6)).toLongs.toSeq
      == longs.toSeq)
    // f8, and under zlib compression (filter under the compressor)
    val dbls = Array(1.5, 2.25, 2.0, 7.5, 7.5, -1.0)
    val raw = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dbls.indices.foreach { i =>
      raw.putDouble(if (i == 0) dbls(0) else dbls(i) - dbls(i - 1))
    }
    val d = new java.util.zip.Deflater(1)
    d.setInput(raw.array()); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    val pD = store("<f8", out.toByteArray, """{"id":"zlib","level":1}""")
    val mD = Zarr.readArrayMeta(pD, "v")
    val back = Zarr.readRegion(pD, "v", mD, Array(0L), Array(6)).toDoubles
    assert(back.toSeq == dbls.toSeq, back.toSeq.toString)
    // writes into delta stores are refused loudly
    val ew = intercept[IllegalArgumentException] {
      Zarr.writeRegion(pL, "v", mL, Array(0L),
        NdArray.fromDoubles(DType.I64, Array(6), Array.tabulate(6)(_.toDouble)))
    }
    assert(ew.getMessage.contains("delta"))
  }

  test("v2 numcodecs fixedscaleoffset reads (i2/u1 packed floats); writes refused") {
    // numcodecs FixedScaleOffset: stored = astype(round((x-offset)*scale));
    // decode = stored/scale + offset — the packed-float layout climate
    // archives use when CF attrs aren't in play. scale 4.0 and /8-grid
    // values keep the roundtrip exact in float64.
    def store(astype: String, enc: Array[Byte], scale: Double,
              offset: Double, compressor: String = "null"): String = {
      val p = tmpStore()
      val dir = java.nio.file.Paths.get(p, "v")
      Files.createDirectories(dir)
      Files.write(dir.resolve(".zarray"),
        (s"""{"chunks":[6],"compressor":$compressor,"dtype":"<f8","fill_value":0,""" +
          s""""filters":[{"id":"fixedscaleoffset","offset":$offset,"scale":$scale,""" +
          s""""dtype":"<f8","astype":"$astype"}],"order":"C","shape":[6],"zarr_format":2}""").getBytes("UTF-8"))
      Files.write(dir.resolve(".zattrs"),
        """{"_ARRAY_DIMENSIONS":["t"]}""".getBytes("UTF-8"))
      Files.write(dir.resolve("0"), enc)
      p
    }
    // <i2 astype, scale 4, offset 0.5: values on the quarter grid
    val vals = Array(0.5, 1.75, -2.0, 100.25, 0.0, 37.5)
    val encS = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vals.foreach(v => encS.putShort(math.round((v - 0.5) * 4.0).toShort))
    val pS = store("<i2", encS.array(), 4.0, 0.5)
    val mS = Zarr.readArrayMeta(pS, "v")
    assert(mS.fsoFilter.contains(Zarr.FsoFilter(0.5, 4.0, DType.I16)))
    assert(mS.dtype == DType.F64)
    assert(Zarr.readRegion(pS, "v", mS, Array(0L), Array(6)).toDoubles.toSeq
      == vals.toSeq)
    // |u1 astype under zlib (filter under the compressor), offset 200
    val vals2 = Array(200.0, 200.25, 210.5, 263.75, 200.0, 201.0)
    val encB = vals2.map(v => math.round((v - 200.0) * 4.0).toByte)
    val d = new java.util.zip.Deflater(1)
    d.setInput(encB); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    val pB = store("|u1", out.toByteArray, 4.0, 200.0,
      """{"id":"zlib","level":1}""")
    val mB = Zarr.readArrayMeta(pB, "v")
    assert(Zarr.readRegion(pB, "v", mB, Array(0L), Array(6)).toDoubles.toSeq
      == vals2.toSeq)
    // writes into fso stores are refused loudly
    val ew = intercept[IllegalArgumentException] {
      Zarr.writeRegion(pS, "v", mS, Array(0L),
        NdArray.fromDoubles(DType.F64, Array(6), vals))
    }
    assert(ew.getMessage.contains("fixedscaleoffset"))
    // an integer ARRAY dtype under fso is rejected (decode divides)
    val pI = store("<i2", encS.array(), 4.0, 0.5)
    val za = java.nio.file.Paths.get(pI, "v", ".zarray")
    Files.write(za, new String(Files.readAllBytes(za), "UTF-8")
      .replace(""""dtype":"<f8"""", """"dtype":"<i8"""")
      .replace("""fixedscaleoffset","offset":0.5,"scale":4.0,"dtype":"<f8"""",
        """fixedscaleoffset","offset":0.5,"scale":4.0,"dtype":"<i8"""")
      .getBytes("UTF-8"))
    val eI = intercept[IllegalArgumentException](Zarr.readArrayMeta(pI, "v"))
    assert(eI.getMessage.contains("float"))
  }

  test("v2 Fortran-order stores read via the transpose path; writes refused") {
    // scipy-era writers emit order:"F" — an F-order buffer of shape
    // (4,3) is the C-order buffer of the axis-reversed (3,4) array, so
    // reads route through the transpose codec's inverse permutation
    val p = tmpStore()
    val dir = java.nio.file.Paths.get(p, "w")
    Files.createDirectories(dir)
    Files.write(dir.resolve(".zarray"),
      ("""{"chunks":[4,3],"compressor":null,"dtype":"<f8","fill_value":0,""" +
        """"filters":null,"order":"F","shape":[4,3],"zarr_format":2}""").getBytes("UTF-8"))
    Files.write(dir.resolve(".zattrs"),
      """{"_ARRAY_DIMENSIONS":["t","x"]}""".getBytes("UTF-8"))
    val logical = Array.tabulate(12)(_.toDouble) // C-order over (4,3)
    // F-order serialization: element (i,j) at j*4 + i
    val f = new Array[Double](12)
    for (i <- 0 until 4; j <- 0 until 3) f(j * 4 + i) = logical(i * 3 + j)
    val bb = java.nio.ByteBuffer.allocate(96)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    f.foreach(bb.putDouble)
    Files.write(dir.resolve("0.0"), bb.array())
    val meta = Zarr.readArrayMeta(p, "w")
    assert(meta.transposeOrder.contains(Seq(1, 0)))
    assert(Zarr.readRegion(p, "w", meta, Array(0L, 0L), Array(4, 3))
      .sameAs(NdArray.fromDoubles(DType.F64, Array(4, 3), logical)))
    assert(Zarr.readRegion(p, "w", meta, Array(1L, 1L), Array(2, 2))
      .sameAs(NdArray.fromDoubles(DType.F64, Array(4, 3), logical)
        .slice(Array(1, 1), Array(2, 2))))
    val ew = intercept[IllegalArgumentException] {
      Zarr.writeRegion(p, "w", meta, Array(0L, 0L),
        NdArray.fromDoubles(DType.F64, Array(4, 3), logical))
    }
    assert(ew.getMessage.contains("transpose"))
    // unknown orders still fail loudly
    val p2 = tmpStore()
    val d2 = java.nio.file.Paths.get(p2, "w")
    Files.createDirectories(d2)
    Files.write(d2.resolve(".zarray"),
      ("""{"chunks":[4,3],"compressor":null,"dtype":"<f8","fill_value":0,""" +
        """"filters":null,"order":"K","shape":[4,3],"zarr_format":2}""").getBytes("UTF-8"))
    Files.write(d2.resolve(".zattrs"),
      """{"_ARRAY_DIMENSIONS":["t","x"]}""".getBytes("UTF-8"))
    val eo = intercept[IllegalArgumentException] {
      Zarr.readArrayMeta(p2, "w")
    }
    assert(eo.getMessage.contains("order"))
  }

  test("VarSpec.fillValue: metadata-only init reads back explicit fills") {
    // The accumulator-store shape (s10): declare fillValue=0 on an I64
    // and an F64 variable, write ZERO chunks, and absent blocks must
    // materialize as real zeros (not the dtype defaults 0/NaN) in both
    // zarr formats — then a partial region write leaves the untouched
    // remainder still reading the declared fill.
    for (fmt <- Seq(2, 3)) {
      val p = tmpStore()
      val tmpl = Template(Seq("t" -> 10L),
        Map("n" -> VarSpec(Seq("t"), DType.I64, Some(0.0)),
            "v" -> VarSpec(Seq("t"), DType.F64, Some(0.0)),
            "nan" -> VarSpec(Seq("t"), DType.F64)),
        Map.empty, Map.empty)
      Zarr.setupStore(p, tmpl, Map("t" -> 4), zarrFormat = fmt)
      val mv = Zarr.readArrayMeta(p, "v")
      assert(mv.fillValue == 0.0, s"fmt $fmt: declared fill must persist")
      assert(Zarr.readArrayMeta(p, "nan").fillValue.isNaN,
        s"fmt $fmt: default F64 fill stays NaN")
      val got = Zarr.readRegion(p, "v", mv, Array(0L), Array(10))
      (0 until 10).foreach(i => assert(got.getDouble(i) == 0.0))
      val gn = Zarr.readRegion(p, "n",
        Zarr.readArrayMeta(p, "n"), Array(0L), Array(10))
      (0 until 10).foreach(i => assert(gn.getDouble(i) == 0.0))
      // partial write: chunk [4,8) gets data; the rest stays fill
      val blk = NdArray.zeros(DType.F64, Array(4))
      (0 until 4).foreach(i => blk.setDouble(i, 7.0 + i))
      Zarr.writeRegion(p, "v", mv, Array(4L), blk)
      val after = Zarr.readRegion(p, "v", mv, Array(0L), Array(10))
      (0 until 10).foreach { i =>
        val want = if (i >= 4 && i < 8) 7.0 + (i - 4) else 0.0
        assert(after.getDouble(i) == want, s"fmt $fmt cell $i")
      }
    }
  }

  test("CF time units decode (stock xarray layout) + non-ns datetime64") {
    // Stock xarray.to_zarr CF-encodes EVERY datetime coordinate as
    // numbers + 'units: "<unit> since <ts>"' (zarr.py:72-96 reads
    // stores back through decode_cf) — these stores are hand-built to
    // that layout, byte-for-byte, never touching our writer.
    def v2(dtype: String, attrs: String, payload: Array[Byte],
           n: Int): String = {
      val p = tmpStore()
      val dir = java.nio.file.Paths.get(p, "time")
      Files.createDirectories(dir)
      Files.write(dir.resolve(".zarray"),
        (s"""{"chunks":[$n],"compressor":null,"dtype":"$dtype",""" +
          s""""fill_value":null,"filters":null,"order":"C",""" +
          s""""shape":[$n],"zarr_format":2}""").getBytes("UTF-8"))
      Files.write(dir.resolve(".zattrs"),
        (s"""{"_ARRAY_DIMENSIONS":["time"],$attrs}""").getBytes("UTF-8"))
      Files.write(dir.resolve("0"), payload)
      p
    }
    def le(f: java.nio.ByteBuffer => Unit, cap: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(cap)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      f(bb); bb.array()
    }
    val G = 1000000000L
    // int64 hours since 1979-01-01 (the ERA5 fixture's epoch)
    val epoch79 = 283996800L * G
    val p1 = v2("<i8",
      """"units":"hours since 1979-01-01","calendar":"proleptic_gregorian"""",
      le(bb => Seq(0L, 6L, 12L, 18L).foreach(bb.putLong), 32), 4)
    val m1 = Zarr.readArrayMeta(p1, "time")
    assert(Zarr.decodedDType(m1) == DType.TimeNs)
    val a1 = Zarr.decodeCf(m1, Zarr.readRegion(p1, "time", m1, Array(0L), Array(4)))
    assert(a1.dtype == DType.TimeNs)
    assert(a1.toLongs.toSeq == Seq(0L, 6L, 12L, 18L).map(h => epoch79 + h * 3600L * G))
    // the 1-arg coord read decodes too (openStore's lazy-coord path)
    assert(Zarr.readCoord(p1, "time").get.toLongs.toSeq.head == epoch79)
    // int32 days since a mid-day reference, with a _FillValue -> NaT
    val epoch00n = (946684800L + 21600L) * G // 2000-01-01 06:00:00
    val p2 = v2("<i4",
      """"units":"days since 2000-01-01 06:00:00","_FillValue":-1""",
      le(bb => Seq(0, 1, -1, 3).foreach(bb.putInt), 16), 4)
    val m2 = Zarr.readArrayMeta(p2, "time")
    val a2 = Zarr.decodeCf(m2, Zarr.readRegion(p2, "time", m2, Array(0L), Array(4)))
    assert(a2.toLongs.toSeq == Seq(epoch00n, epoch00n + 86400L * G,
      Long.MinValue, epoch00n + 3L * 86400L * G))
    // float64 fractional days round to ns
    val epoch00 = 946684800L * G
    val p3 = v2("<f8", """"units":"days since 2000-01-01"""",
      le(bb => Seq(0.0, 0.5, 1.25).foreach(bb.putDouble), 24), 3)
    val m3 = Zarr.readArrayMeta(p3, "time")
    val a3 = Zarr.decodeCf(m3, Zarr.readRegion(p3, "time", m3, Array(0L), Array(3)))
    assert(a3.toLongs.toSeq == Seq(epoch00, epoch00 + 43200L * G,
      epoch00 + 108000L * G))
    // raw non-ns datetime64: <M8[s] scales ticks to ns; NaT passes
    val p4 = v2("<M8[s]", """"note":"raw seconds datetime"""",
      le(bb => Seq(946684800L, Long.MinValue, 946771200L).foreach(bb.putLong), 24), 3)
    val m4 = Zarr.readArrayMeta(p4, "time")
    assert(m4.dtype == DType.TimeNs && m4.timeUnitNs == G)
    val a4 = Zarr.decodeCf(m4, Zarr.readRegion(p4, "time", m4, Array(0L), Array(3)))
    assert(a4.toLongs.toSeq == Seq(epoch00, Long.MinValue, epoch00 + 86400L * G))
    // variable-year calendars (julian) cannot map onto datetime64 and
    // have no closed-form fixed-year arithmetic -> loud reject; the
    // FIXED-year calendars (noleap/360_day) decode as raw counts with a
    // calendar tag instead (see the dedicated calendar test)
    val p5 = v2("<i8", """"units":"days since 2000-01-01","calendar":"julian"""",
      le(bb => bb.putLong(0L), 8), 1)
    val e5 = intercept[IllegalArgumentException](Zarr.readArrayMeta(p5, "time"))
    assert(e5.getMessage.contains("calendar"))
    // M8 with a _FillValue sentinel: masks to NaT, dtype STAYS datetime
    val p4f = v2("<M8[s]", """"_FillValue":-9999""",
      le(bb => Seq(946684800L, -9999L).foreach(bb.putLong), 16), 2)
    val m4f = Zarr.readArrayMeta(p4f, "time")
    assert(Zarr.decodedDType(m4f) == DType.TimeNs)
    val a4f = Zarr.decodeCf(m4f, Zarr.readRegion(p4f, "time", m4f, Array(0L), Array(2)))
    assert(a4f.toLongs.toSeq == Seq(epoch00, Long.MinValue))
    // numpy unit codes are case-sensitive: 'm' is MINUTES; 'M' (months)
    // varies by calendar and rejects
    val pm = v2("<M8[m]", """"note":"minutes"""",
      le(bb => bb.putLong(60L), 8), 1)
    val mm = Zarr.readArrayMeta(pm, "time")
    assert(mm.timeUnitNs == 60L * G)
    val pM = v2("<M8[M]", """"note":"months"""",
      le(bb => bb.putLong(1L), 8), 1)
    val eM = intercept[IllegalArgumentException](Zarr.readArrayMeta(pM, "time"))
    assert(eM.getMessage.contains("M/Y"))
    // CF 'weeks since' is a fixed 7 days and decodes
    val pw = v2("<i8", """"units":"weeks since 2000-01-01"""",
      le(bb => bb.putLong(2L), 8), 1)
    val mw = Zarr.readArrayMeta(pw, "time")
    val aw = Zarr.decodeCf(mw, Zarr.readRegion(pw, "time", mw, Array(0L), Array(1)))
    assert(aw.toLongs.head == epoch00 + 14L * 86400L * G)
    // 'months since' / 'years since' vary by calendar -> loud reject
    // (without the one calendar cftime allows them on, 360_day)
    val pmo = v2("<i8", """"units":"months since 2000-01-01"""",
      le(bb => bb.putLong(1L), 8), 1)
    val emo = intercept[IllegalArgumentException](Zarr.readArrayMeta(pmo, "time"))
    assert(emo.getMessage.contains("calendar"))
    val pmoN = v2("<i8",
      """"units":"months since 2000-01-01","calendar":"noleap"""",
      le(bb => bb.putLong(1L), 8), 1)
    val emoN = intercept[IllegalArgumentException](Zarr.readArrayMeta(pmoN, "time"))
    assert(emoN.getMessage.contains("360_day"))
    // ...but ON 360_day they are exact 30/360-day counts (cftime
    // parity): a calendar tag, not a datetime64 detour
    val pmo3 = v2("<i8",
      """"units":"months since 2000-01-01","calendar":"360_day"""",
      le(bb => Seq(0L, 1L, 13L).foreach(bb.putLong), 24), 3)
    val mmo3 = Zarr.readArrayMeta(pmo3, "time")
    assert(mmo3.cfCalTime.exists(t => t.calendar == "360_day" &&
      t.unitNs == 30L * 86400L * 1000000000L))
    val pyr3 = v2("<i8",
      """"units":"years since 2000-01-01","calendar":"360_day"""",
      le(bb => bb.putLong(2L), 8), 1)
    assert(Zarr.readArrayMeta(pyr3, "time").cfCalTime
      .exists(_.unitNs == 360L * 86400L * 1000000000L))
    // a 'since' phrase with a NON-time unit is not a time encoding
    val p6 = v2("<i8", """"units":"metres since launch"""",
      le(bb => bb.putLong(42L), 8), 1)
    val m6 = Zarr.readArrayMeta(p6, "time")
    assert(m6.cfTime.isEmpty && Zarr.decodedDType(m6) == DType.I64)
    assert(Zarr.decodeCf(m6,
      Zarr.readRegion(p6, "time", m6, Array(0L), Array(1))).toLongs.head == 42L)
    // a known time unit with a garbage reference must fail loudly
    val p7 = v2("<i8", """"units":"days since the dawn of time"""",
      le(bb => bb.putLong(0L), 8), 1)
    val e7 = intercept[IllegalArgumentException](Zarr.readArrayMeta(p7, "time"))
    assert(e7.getMessage.contains("cannot parse CF time reference"))
    // writes into CF-time arrays are refused (reads decode; a raw ns
    // write would corrupt the store for every other reader)
    val ew = intercept[IllegalArgumentException] {
      Zarr.writeRegion(p1, "time", m1, Array(0L),
        NdArray.zeros(DType.I64, Array(4)))
    }
    assert(ew.getMessage.contains("CF-time"))
    val ew4 = intercept[IllegalArgumentException] {
      Zarr.writeRegion(p4, "time", m4, Array(0L),
        NdArray.zeros(DType.TimeNs, Array(3)))
    }
    assert(ew4.getMessage.contains("non-nanosecond"))
  }

  test("CF reference timestamp leniency + datetime ambiguity guards") {
    def v2(dtype: String, attrs: String, payload: Array[Byte],
           n: Int): String = {
      val p = tmpStore()
      val dir = java.nio.file.Paths.get(p, "time")
      Files.createDirectories(dir)
      Files.write(dir.resolve(".zarray"),
        (s"""{"chunks":[$n],"compressor":null,"dtype":"$dtype",""" +
          s""""fill_value":null,"filters":null,"order":"C",""" +
          s""""shape":[$n],"zarr_format":2}""").getBytes("UTF-8"))
      Files.write(dir.resolve(".zattrs"),
        (s"""{"_ARRAY_DIMENSIONS":["time"],$attrs}""").getBytes("UTF-8"))
      Files.write(dir.resolve("0"), payload)
      p
    }
    def le(f: java.nio.ByteBuffer => Unit, cap: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(cap)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      f(bb); bb.array()
    }
    val G = 1000000000L
    val epoch00 = 946684800L * G
    def decodeOne(units: String): Long = {
      val p = v2("<i8", s""""units":"$units"""",
        le(bb => bb.putLong(0L), 8), 1)
      val m = Zarr.readArrayMeta(p, "time")
      Zarr.decodeCf(m, Zarr.readRegion(p, "time", m, Array(0L), Array(1)))
        .toLongs.head
    }
    // non-zero-padded dates — the most common real-world udunits sloppiness
    assert(decodeOne("days since 2000-1-1") == epoch00)
    // sloppy time-of-day with fractional seconds
    assert(decodeOne("hours since 1990-01-01 0:00:0.0") == 631152000L * G)
    // hour-only time-of-day
    assert(decodeOne("days since 2000-01-01 6") == epoch00 + 21600L * G)
    // explicit non-UTC offsets (both spellings) shift to UTC
    assert(decodeOne("days since 2000-01-01 00:00:00+10:00") ==
      epoch00 - 10L * 3600L * G)
    assert(decodeOne("days since 2000-01-01 00:00:00 -0600") ==
      epoch00 + 6L * 3600L * G)
    // strict spellings keep working
    assert(decodeOne("days since 2000-01-01T00:00:00Z") == epoch00)
    assert(decodeOne("seconds since 2000-01-01 00:00:00.25") ==
      epoch00 + 250000000L)
    // garbage still rejects loudly
    val pg = v2("<i8", """"units":"days since yesterday"""",
      le(bb => bb.putLong(0L), 8), 1)
    val eg = intercept[IllegalArgumentException](Zarr.readArrayMeta(pg, "time"))
    assert(eg.getMessage.contains("cannot parse CF time reference"))
    val pb = v2("<i8", """"units":"days since 2000-13-45"""",
      le(bb => bb.putLong(0L), 8), 1)
    val eb = intercept[IllegalArgumentException](Zarr.readArrayMeta(pb, "time"))
    assert(eb.getMessage.contains("cannot parse CF time reference"))
    // stored iNaT (Long.MinValue) in a raw int64 CF array passes
    // through as NaT instead of overflowing the unit multiply
    val pn = v2("<i8", """"units":"hours since 1979-01-01"""",
      le(bb => Seq(0L, Long.MinValue).foreach(bb.putLong), 16), 2)
    val mn = Zarr.readArrayMeta(pn, "time")
    val an = Zarr.decodeCf(mn, Zarr.readRegion(pn, "time", mn, Array(0L), Array(2)))
    assert(an.toLongs.toSeq == Seq(283996800L * G, Long.MinValue))
    // scale_factor on a raw datetime64 dtype is ambiguous -> loud reject
    val pa = v2("<M8[s]", """"scale_factor":2.0""",
      le(bb => bb.putLong(0L), 8), 1)
    val ea = intercept[IllegalArgumentException](Zarr.readArrayMeta(pa, "time"))
    assert(ea.getMessage.contains("ambiguous"))
  }

  test("string coordinate arrays read (|S, <U, vlen-utf8); writes refuse") {
    // The station/label layouts stock xarray stores carry — hand-built
    // to the wire format, never touching our writer (which refuses
    // string dtypes by design).
    def mk(name: String, zarray: String, zattrs: String,
           chunks: Map[String, Array[Byte]]): String = {
      val p = tmpStore()
      val dir = java.nio.file.Paths.get(p, name)
      Files.createDirectories(dir)
      Files.write(dir.resolve(".zarray"), zarray.getBytes("UTF-8"))
      Files.write(dir.resolve(".zattrs"), zattrs.getBytes("UTF-8"))
      chunks.foreach { case (k, b) => Files.write(dir.resolve(k), b) }
      p
    }
    // |S8, two chunks of 3 (last partial), trailing-NUL padding, an
    // empty string, and a stray "" fill_value (what zarr-python writes)
    def s8(s: String): Array[Byte] = {
      val b = new Array[Byte](8)
      val raw = s.getBytes("UTF-8")
      System.arraycopy(raw, 0, b, 0, raw.length)
      b
    }
    val p1 = mk("station",
      """{"chunks":[3],"compressor":null,"dtype":"|S8","fill_value":"",""" +
        """"filters":null,"order":"C","shape":[5],"zarr_format":2}""",
      """{"_ARRAY_DIMENSIONS":["station"]}""",
      Map("0" -> (s8("KSEA") ++ s8("KPDX") ++ s8("")),
        "1" -> (s8("KLAX-07") ++ s8("KSFO") ++ s8("pad"))))
    val m1 = Zarr.readArrayMeta(p1, "station")
    assert(m1.stringDType.contains(Zarr.StringDType.FixedS(8)))
    assert(Zarr.readStringCoord(p1, "station", m1).toSeq ==
      Seq("KSEA", "KPDX", "", "KLAX-07", "KSFO"))
    // <U4 (UCS-4 LE) with non-ASCII labels, zlib-compressed
    def u4(s: String): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      s.codePoints().toArray.foreach(bb.putInt)
      bb.array()
    }
    val uRaw = u4("αβγ") ++ u4("r1") ++ u4("日本語帳")
    val uZ = {
      val d = new java.util.zip.Deflater()
      d.setInput(uRaw); d.finish()
      val buf = new Array[Byte](uRaw.length * 2 + 64)
      val n = d.deflate(buf)
      java.util.Arrays.copyOf(buf, n)
    }
    val p2 = mk("member",
      """{"chunks":[3],"compressor":{"id":"zlib","level":1},"dtype":"<U4",""" +
        """"fill_value":"","filters":null,"order":"C","shape":[3],"zarr_format":2}""",
      """{"_ARRAY_DIMENSIONS":["member"]}""",
      Map("0" -> uZ))
    val m2 = Zarr.readArrayMeta(p2, "member")
    assert(m2.stringDType.contains(Zarr.StringDType.FixedU(4)))
    assert(Zarr.readStringCoord(p2, "member", m2).toSeq ==
      Seq("αβγ", "r1", "日本語帳"))
    // numcodecs vlen-utf8 over |O: LE u32 count, then per item LE u32
    // length + bytes
    def vlen(items: Seq[String]): Array[Byte] = {
      val enc = items.map(_.getBytes("UTF-8"))
      val bb = java.nio.ByteBuffer.allocate(4 + enc.map(_.length + 4).sum)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(items.length)
      enc.foreach { e => bb.putInt(e.length); bb.put(e) }
      bb.array()
    }
    val p3 = mk("label",
      """{"chunks":[2],"compressor":null,"dtype":"|O","fill_value":null,""" +
        """"filters":[{"id":"vlen-utf8"}],"order":"C","shape":[4],"zarr_format":2}""",
      """{"_ARRAY_DIMENSIONS":["label"]}""",
      Map("0" -> vlen(Seq("cmip6-hist", "ssp5-8.5")),
        "1" -> vlen(Seq("", "piControl"))))
    val m3 = Zarr.readArrayMeta(p3, "label")
    assert(m3.stringDType.contains(Zarr.StringDType.VlenUtf8))
    assert(Zarr.readStringCoord(p3, "label", m3).toSeq ==
      Seq("cmip6-hist", "ssp5-8.5", "", "piControl"))
    // numeric reads of a string array reject loudly
    val er = intercept[IllegalArgumentException](
      Zarr.readRegion(p1, "station", m1, Array(0L), Array(5)))
    assert(er.getMessage.contains("readStringCoord"))
    // writes into string arrays reject loudly
    val ew = intercept[IllegalArgumentException](
      Zarr.writeRegion(p1, "station", m1, Array(0L),
        graft.ndarray.NdArray.zeros(graft.ndarray.DType.U8, Array(5))))
    assert(ew.getMessage.contains("string"))
    // a string DATA variable (2-D / not named after its dim) rejects
    val pv = mk("v",
      """{"chunks":[2,2],"compressor":null,"dtype":"|S4","fill_value":"",""" +
        """"filters":null,"order":"C","shape":[2,2],"zarr_format":2}""",
      """{"_ARRAY_DIMENSIONS":["a","b"]}""",
      Map.empty)
    val ev = intercept[IllegalArgumentException](Zarr.readArrayMeta(pv, "v"))
    assert(ev.getMessage.contains("1-D coordinate"))
    // big-endian UCS-4 rejects rather than misreads
    val pb = mk("be",
      """{"chunks":[1],"compressor":null,"dtype":">U2","fill_value":"",""" +
        """"filters":null,"order":"C","shape":[1],"zarr_format":2}""",
      """{"_ARRAY_DIMENSIONS":["be"]}""",
      Map.empty)
    val eb = intercept[IllegalArgumentException](Zarr.readArrayMeta(pb, "be"))
    assert(eb.getMessage.contains("big-endian"))
    // zarr v3 "string" data_type via the vlen-utf8 array→bytes codec
    // (zarr-python 3's str arrays), chunked 2 with a partial tail
    val p4 = tmpStore()
    val d4 = java.nio.file.Paths.get(p4, "member")
    Files.createDirectories(d4)
    Files.write(d4.resolve("zarr.json"),
      ("""{"zarr_format":3,"node_type":"array","shape":[3],""" +
        """"data_type":"string","chunk_grid":{"name":"regular",""" +
        """"configuration":{"chunk_shape":[2]}},"chunk_key_encoding":""" +
        """{"name":"default","configuration":{"separator":"/"}},""" +
        """"fill_value":"","codecs":[{"name":"vlen-utf8"}],""" +
        """"dimension_names":["member"]}""").getBytes("UTF-8"))
    java.nio.file.Files.createDirectories(d4.resolve("c"))
    Files.write(d4.resolve("c/0"), vlen(Seq("r1i1p1", "r2i1p1")))
    Files.write(d4.resolve("c/1"), vlen(Seq("r3i1p1", "pad")))
    val m4 = Zarr.readArrayMeta(p4, "member")
    assert(m4.format == 3 &&
      m4.stringDType.contains(Zarr.StringDType.VlenUtf8))
    assert(Zarr.readStringCoord(p4, "member", m4).toSeq ==
      Seq("r1i1p1", "r2i1p1", "r3i1p1"))
    // a v3 vlen-utf8 codec on a NUMERIC data_type rejects loudly
    val p5 = tmpStore()
    val d5 = java.nio.file.Paths.get(p5, "bad")
    Files.createDirectories(d5)
    Files.write(d5.resolve("zarr.json"),
      ("""{"zarr_format":3,"node_type":"array","shape":[1],""" +
        """"data_type":"int64","chunk_grid":{"name":"regular",""" +
        """"configuration":{"chunk_shape":[1]}},"fill_value":0,""" +
        """"codecs":[{"name":"vlen-utf8"}],""" +
        """"dimension_names":["bad"]}""").getBytes("UTF-8"))
    val e5 = intercept[IllegalArgumentException](Zarr.readArrayMeta(p5, "bad"))
    assert(e5.getMessage.contains("non-string"))
    // v3 string + ZSTD — zarr-python 3's DEFAULT codec chain for str
    // arrays; the decoded size comes from the zstd frame header
    val p6 = tmpStore()
    val d6 = java.nio.file.Paths.get(p6, "tag")
    Files.createDirectories(d6)
    Files.write(d6.resolve("zarr.json"),
      ("""{"zarr_format":3,"node_type":"array","shape":[2],""" +
        """"data_type":"string","chunk_grid":{"name":"regular",""" +
        """"configuration":{"chunk_shape":[2]}},"fill_value":"",""" +
        """"codecs":[{"name":"vlen-utf8"},{"name":"zstd",""" +
        """"configuration":{"level":0}}],""" +
        """"dimension_names":["tag"]}""").getBytes("UTF-8"))
    java.nio.file.Files.createDirectories(d6.resolve("c"))
    Files.write(d6.resolve("c/0"),
      com.github.luben.zstd.Zstd.compress(vlen(Seq("historical", "ssp126")), 1))
    val m6s = Zarr.readArrayMeta(p6, "tag")
    assert(Zarr.readStringCoord(p6, "tag", m6s).toSeq ==
      Seq("historical", "ssp126"))
    // a NON-EMPTY declared string fill cannot be honored (absent
    // chunks read "") -> loud reject, v2 and v3
    val pf = mk("filled",
      """{"chunks":[1],"compressor":null,"dtype":"|S4","fill_value":"Tk8=",""" +
        """"filters":null,"order":"C","shape":[1],"zarr_format":2}""",
      """{"_ARRAY_DIMENSIONS":["filled"]}""",
      Map.empty)
    val ef = intercept[IllegalArgumentException](Zarr.readArrayMeta(pf, "filled"))
    assert(ef.getMessage.contains("non-empty string fill_value"))
    // numeric filters on a fixed-width string dtype would decode
    // silently wrong labels -> loud reject at parse
    val pd = mk("deltas",
      """{"chunks":[2],"compressor":null,"dtype":"|S4","fill_value":"",""" +
        """"filters":[{"id":"delta","dtype":"|S4"}],"order":"C",""" +
        """"shape":[2],"zarr_format":2}""",
      """{"_ARRAY_DIMENSIONS":["deltas"]}""",
      Map.empty)
    val ed = intercept[IllegalArgumentException](Zarr.readArrayMeta(pd, "deltas"))
    assert(ed.getMessage.contains("filters on string dtype"))
  }

  test("uint16/uint32/float16 stores widen losslessly on read") {
    // The packed layouts archives actually ship: hand-built stores
    // (literal .zarray bytes, never our writer).
    def v2(dtype: String, attrs: String, payload: Array[Byte],
           n: Int): String = {
      val p = tmpStore()
      val dir = java.nio.file.Paths.get(p, "v")
      Files.createDirectories(dir)
      Files.write(dir.resolve(".zarray"),
        (s"""{"chunks":[$n],"compressor":null,"dtype":"$dtype",""" +
          s""""fill_value":null,"filters":null,"order":"C",""" +
          s""""shape":[$n],"zarr_format":2}""").getBytes("UTF-8"))
      Files.write(dir.resolve(".zattrs"),
        (s"""{"_ARRAY_DIMENSIONS":["t"]$attrs}""").getBytes("UTF-8"))
      Files.write(dir.resolve("0"), payload)
      p
    }
    def le(f: java.nio.ByteBuffer => Unit, cap: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(cap)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      f(bb); bb.array()
    }
    // u2: full range incl. values over Short.MaxValue (the sign trap)
    val u2s = Seq(0, 1, 32767, 32768, 65535)
    val p1 = v2("<u2", "",
      le(bb => u2s.foreach(v => bb.putShort(v.toShort)), 10), 5)
    val m1 = Zarr.readArrayMeta(p1, "v")
    assert(m1.dtype == DType.I32 && m1.widenFrom.contains("<u2"))
    assert(Zarr.readRegion(p1, "v", m1, Array(0L), Array(5)).toLongs.toSeq
      == u2s.map(_.toLong))
    // the REAL satellite layout: u2 + CF scale/offset -> float64
    val p1cf = v2("<u2", ""","scale_factor":0.01,"add_offset":-50.0""",
      le(bb => u2s.foreach(v => bb.putShort(v.toShort)), 10), 5)
    val m1cf = Zarr.readArrayMeta(p1cf, "v")
    assert(Zarr.decodedDType(m1cf) == DType.F64)
    val dec = Zarr.decodeCf(m1cf,
      Zarr.readRegion(p1cf, "v", m1cf, Array(0L), Array(5)))
    assert(dec.toDoubles.toSeq == u2s.map(_ * 0.01 - 50.0))
    // u4: over Int.MaxValue
    val u4s = Seq(0L, 1L, 2147483647L, 2147483648L, 4294967295L)
    val p2 = v2("<u4", "",
      le(bb => u4s.foreach(v => bb.putInt(v.toInt)), 20), 5)
    val m2 = Zarr.readArrayMeta(p2, "v")
    assert(m2.dtype == DType.I64)
    assert(Zarr.readRegion(p2, "v", m2, Array(0L), Array(5)).toLongs.toSeq == u4s)
    // f2: normals, subnormals, ±0, ±Inf, NaN, max half
    val halfs = Seq(0x3C00, 0x3800, 0xC000, 0x7BFF, 0x0001, 0x03FF,
      0x8000, 0x7C00, 0xFC00, 0x7E00)
    val want = Seq(1.0f, 0.5f, -2.0f, 65504.0f, 5.9604645e-8f,
      6.097555e-5f, -0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.NaN)
    val p3 = v2("<f2", "",
      le(bb => halfs.foreach(v => bb.putShort(v.toShort)), 20), 10)
    val m3 = Zarr.readArrayMeta(p3, "v")
    assert(m3.dtype == DType.F32)
    val got = Zarr.readRegion(p3, "v", m3, Array(0L), Array(10))
    halfs.indices.foreach { i =>
      val g = got.getDouble(i).toFloat
      if (want(i).isNaN) assert(g.isNaN, s"half $i")
      else assert(g == want(i) &&
        (g != 0f || 1f / g == 1f / want(i)), s"half $i: $g != ${want(i)}")
    }
    // big-endian >u2 swaps THEN widens
    val pbe = {
      val p = tmpStore()
      val dir = java.nio.file.Paths.get(p, "v")
      Files.createDirectories(dir)
      Files.write(dir.resolve(".zarray"),
        ("""{"chunks":[2],"compressor":null,"dtype":">u2","fill_value":null,""" +
          """"filters":null,"order":"C","shape":[2],"zarr_format":2}""")
          .getBytes("UTF-8"))
      Files.write(dir.resolve(".zattrs"),
        """{"_ARRAY_DIMENSIONS":["t"]}""".getBytes("UTF-8"))
      Files.write(dir.resolve("0"), Array[Byte](0x01, 0x00, 0xff.toByte, 0xfe.toByte))
      p
    }
    val mbe = Zarr.readArrayMeta(pbe, "v")
    assert(mbe.bigEndian && mbe.widenFrom.contains("<u2"))
    assert(Zarr.readRegion(pbe, "v", mbe, Array(0L), Array(2)).toLongs.toSeq
      == Seq(256L, 65534L))
    // writes into widened stores are refused
    val ew = intercept[IllegalArgumentException] {
      Zarr.writeRegion(p1, "v", m1, Array(0L), NdArray.zeros(DType.I32, Array(5)))
    }
    assert(ew.getMessage.contains("widen"))
    // numcodecs filters on widened dtypes reject loudly at parse
    val pf = {
      val p = tmpStore()
      val dir = java.nio.file.Paths.get(p, "v")
      Files.createDirectories(dir)
      Files.write(dir.resolve(".zarray"),
        ("""{"chunks":[2],"compressor":null,"dtype":"<u2","fill_value":null,""" +
          """"filters":[{"id":"delta","dtype":"<u2"}],"order":"C",""" +
          """"shape":[2],"zarr_format":2}""").getBytes("UTF-8"))
      Files.write(dir.resolve(".zattrs"),
        """{"_ARRAY_DIMENSIONS":["t"]}""".getBytes("UTF-8"))
      p
    }
    val ef = intercept[IllegalArgumentException](Zarr.readArrayMeta(pf, "v"))
    assert(ef.getMessage.contains("widened"))
  }

  test("CF time decode on zarr v3 attributes (int time + units attr)") {
    // v3 has no datetime data_type; xarray stores time on v3 the same
    // CF way. Hand-built v3 node: int64 + units attr, gzip-free.
    val p = tmpStore()
    val dir = java.nio.file.Paths.get(p, "time")
    Files.createDirectories(dir)
    Files.write(dir.resolve("zarr.json"),
      ("""{"zarr_format":3,"node_type":"array","shape":[3],""" +
        """"data_type":"int64","chunk_grid":{"name":"regular",""" +
        """"configuration":{"chunk_shape":[3]}},""" +
        """"chunk_key_encoding":{"name":"default",""" +
        """"configuration":{"separator":"/"}},"fill_value":0,""" +
        """"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],""" +
        """"dimension_names":["time"],""" +
        """"attributes":{"units":"seconds since 1970-01-01T00:00:30Z"}}""")
        .getBytes("UTF-8"))
    val cdir = dir.resolve("c")
    Files.createDirectories(cdir)
    val bb = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(0L, 30L, 90L).foreach(bb.putLong)
    Files.write(cdir.resolve("0"), bb.array())
    val m = Zarr.readArrayMeta(p, "time")
    assert(m.format == 3 && Zarr.decodedDType(m) == DType.TimeNs)
    val a = Zarr.decodeCf(m, Zarr.readRegion(p, "time", m, Array(0L), Array(3)))
    val G = 1000000000L
    assert(a.toLongs.toSeq == Seq(30L * G, 60L * G, 120L * G))
  }
}
