package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestSpark}
import graft.api.{TabularBridge, XbeamDataset}

class ZarrDataSourceSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def writeStore(): String = {
    val dir = Files.createTempDirectory("zarr_dsv2").toString + "/store"
    XbeamDataset.fromLocal(spark, Fixtures.era5(),
      chunks = Map("time" -> 4)).toZarr(dir)
    dir
  }

  test("format(zarr) reads the tabular projection (matches the bridge)") {
    val dir = writeStore()
    val viaSql = spark.read.format("zarr").load(dir)
      .orderBy("time", "latitude", "longitude")
    val viaBridge = TabularBridge.toDataFrame(
      XbeamDataset.fromZarr(spark, dir))
      .orderBy("time", "latitude", "longitude")
    assert(viaSql.schema == viaBridge.schema)
    val a = viaSql.collect()
    val b = viaBridge.collect()
    assert(a.length == 12 * 5 * 6)
    assert(a.sameElements(b))
  }

  test("CF-time coordinate decodes to epoch-ns datetime values") {
    // A store whose time coord is CF-encoded ints (units since epoch) —
    // the layout stock xarray writes — must read through the connector
    // as TIMESTAMP values, not raw offsets.
    val p = Files.createTempDirectory("zarr_cftime").toString + "/store"
    val tdir = java.nio.file.Paths.get(p, "time")
    Files.createDirectories(tdir)
    Files.write(java.nio.file.Paths.get(p, ".zgroup"),
      """{"zarr_format":2}""".getBytes("UTF-8"))
    Files.write(tdir.resolve(".zarray"),
      ("""{"chunks":[4],"compressor":null,"dtype":"<i8","fill_value":null,""" +
        """"filters":null,"order":"C","shape":[4],"zarr_format":2}""")
        .getBytes("UTF-8"))
    Files.write(tdir.resolve(".zattrs"),
      ("""{"_ARRAY_DIMENSIONS":["time"],""" +
        """"units":"hours since 1979-01-01","calendar":"standard"}""")
        .getBytes("UTF-8"))
    val tb = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(0L, 6L, 12L, 18L).foreach(tb.putLong)
    Files.write(tdir.resolve("0"), tb.array())
    val vdir = java.nio.file.Paths.get(p, "v")
    Files.createDirectories(vdir)
    Files.write(vdir.resolve(".zarray"),
      ("""{"chunks":[4],"compressor":null,"dtype":"<f8","fill_value":"NaN",""" +
        """"filters":null,"order":"C","shape":[4],"zarr_format":2}""")
        .getBytes("UTF-8"))
    Files.write(vdir.resolve(".zattrs"),
      """{"_ARRAY_DIMENSIONS":["time"]}""".getBytes("UTF-8"))
    val vb = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(1.0, 2.0, 3.0, 4.0).foreach(vb.putDouble)
    Files.write(vdir.resolve("0"), vb.array())
    val df = spark.read.format("zarr").option("coords", "true").load(p)
    // datetime values stay epoch-ns LONGS through the tabular layer
    // (the engine's convention everywhere — Spark timestamps are µs
    // and would silently drop ns); the decode itself must have
    // happened: hour offsets became absolute epoch ns.
    val epoch79 = 283996800L * 1000000000L
    val got = df.selectExpr("time_coord", "v")
      .orderBy("v").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.head == (epoch79, 1.0), got.head.toString)
    assert(got.last == (epoch79 + 18L * 3600L * 1000000000L, 4.0),
      got.last.toString)
    // and the raw stored offsets (0, 6, 12, 18) must NOT leak through
    assert(got.forall(_._1 >= epoch79))
    // fromZarr sees the same decode: the coord is datetime64[ns], so
    // xarray's virtual 'time.hour' accessor works directly
    import graft.ndarray.DType
    val ds = XbeamDataset.fromZarr(spark, p)
    assert(ds.template.coords("time").dtype == DType.TimeNs)
    val hours = ds.timeField("time", "hour").template.coords("time")
    assert(hours.toLongs.toSeq == Seq(0L, 6L, 12L, 18L))
    // a NaT in the coordinate (CF _FillValue slot) must fail LOUDLY in
    // calendar kernels, not bucket as the year-1677 pandas epoch
    val nat = ds.template.coords("time").toLongs.updated(2, Long.MinValue)
    val dsNat = ds.assignCoords("time", graft.ndarray.NdArray.fromLongs(
      DType.TimeNs, Array(4), nat))
    val en = intercept[IllegalArgumentException](dsNat.timeField("time", "hour"))
    assert(en.getMessage.contains("NaT"))
  }

  test("variables with permuted or lower-rank axes read correctly") {
    import graft.core.{Template, VarSpec}
    import graft.ndarray.DType
    import graft.Fixtures.arange
    val dir = Files.createTempDirectory("zarr_perm").toString + "/store"
    // store dims (t, x); var a is (t, x), var b is (x, t) — the SAME
    // logical values transposed — and var c spans only (t)
    val t = 4; val x = 3
    val a = arange(DType.F64, t, x)
    val bT = a.transpose(Array(1, 0)) // (x, t) layout of the same values
    val c = arange(DType.I64, t)
    Zarr.setupStore(dir,
      Template(Seq("t" -> t.toLong, "x" -> x.toLong),
        Map("a" -> VarSpec(Seq("t", "x"), DType.F64)), Map.empty, Map.empty),
      Map("t" -> 2, "x" -> 3))
    Zarr.writeRegion(dir, "a", Zarr.readArrayMeta(dir, "a"), Array(0L, 0L), a)
    Zarr.writeArrayMeta(dir, "b", Seq(x.toLong, t.toLong), Seq(3, 2),
      DType.F64, Seq("x", "t"), compressor = None)
    Zarr.writeRegion(dir, "b", Zarr.readArrayMeta(dir, "b"), Array(0L, 0L), bT)
    Zarr.writeArrayMeta(dir, "c", Seq(t.toLong), Seq(2), DType.I64, Seq("t"),
      compressor = None)
    Zarr.writeRegion(dir, "c", Zarr.readArrayMeta(dir, "c"), Array(0L), c)
    Zarr.consolidateMetadata(dir)
    val rows = spark.read.format("zarr").load(dir)
      .orderBy("t", "x").collect()
    assert(rows.length == t * x)
    rows.foreach { r =>
      val (ti, xi) = (r.getLong(0), r.getLong(1))
      val av = r.getDouble(r.fieldIndex("a"))
      assert(av == ti * x + xi, s"a($ti,$xi)")
      assert(r.getDouble(r.fieldIndex("b")) == av, s"b must transpose back at ($ti,$xi)")
      assert(r.getLong(r.fieldIndex("c")) == ti, s"c must broadcast over x at ($ti,$xi)")
    }
  }

  test("dim predicates prune input partitions; results stay exact") {
    val dir = writeStore()
    val df = spark.read.format("zarr").load(dir)
    // 3 chunks along time; time < 4 touches only the first
    val filtered = df.filter("time < 4")
    assert(filtered.rdd.getNumPartitions == 1)
    assert(filtered.count() == 4 * 5 * 6)
    // non-chunk-aligned bound still exact (residual filter applies)
    val partial = df.filter("time >= 6")
    assert(partial.rdd.getNumPartitions == 2)
    assert(partial.count() == 6 * 5 * 6)
    assert(df.filter("time = 7 AND latitude = 2").count() == 6)
  }

  test("200k-chunk store: pruning plans 5 partitions, stats never enumerate") {
    // the shard_keys_threshold regime (core.py:554-555): metadata-only
    // setup, plan-time pruning, and O(per-dim) statistics must all
    // stay flat as chunk counts reach 100 TB territory
    import graft.core.{Template, VarSpec}
    import graft.ndarray.DType
    val dir = Files.createTempDirectory("zarr_dsv2_200k").toString + "/store"
    val tSize = 400000L
    Zarr.setupStore(dir, Template(Seq("t" -> tSize, "x" -> 8L),
      Map("v" -> VarSpec(Seq("t", "x"), DType.F64)), Map.empty, Map.empty),
      Map("t" -> 2, "x" -> 8))
    val df = spark.read.format("zarr").load(dir)
    val t0 = System.nanoTime()
    val pruned = df.filter(s"t >= ${tSize - 10}")
    assert(pruned.rdd.getNumPartitions == 5,
      "pushed t-range must prune 199,995 of 200,000 chunks at plan time")
    // absent chunks read as NaN fill — 80 cells, 5 tasks, no data blobs
    assert(pruned.count() == 80)
    val planMs = (System.nanoTime() - t0) / 1e6
    assert(planMs < 30000, s"planning+reading 5-of-200k chunks took $planMs ms")
    // stats on the bounds-pruned scan come from the arithmetic per-dim
    // path: repeated asks stay cheap and exact
    val s0 = System.nanoTime()
    (1 to 20).foreach { _ =>
      // read the V2 scan relation's own stats (a Filter node above it
      // drops rowCount without CBO): pushdown rewrites the filter into
      // the scan, whose estimateStatistics must report the EXACT
      // bounds-pruned count through the arithmetic per-dim path
      val plan = df.filter(s"t < 100").queryExecution.optimizedPlan
      val scanStats = plan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats
      }
      assert(scanStats.nonEmpty, s"no V2 scan relation in:\n$plan")
      assert(scanStats.head.rowCount.contains(BigInt(100 * 8)),
        s"expected exact pruned row count 800, got ${scanStats.head.rowCount}")
    }
    val statsMs = (System.nanoTime() - s0) / 1e6
    assert(statsMs < 20000, s"20 stats asks over 200k chunks took $statsMs ms")
  }

  test("300-variable store: pruned ReadSchema reads only the selected vars") {
    // the ERA5-width regime: variable count must not leak into the
    // scan — a 2-variable projection over a 300-variable store prunes
    // the read schema to exactly those columns and never opens the
    // other 298 variables' chunk files
    import graft.core.{Template, VarSpec}
    import graft.ndarray.DType
    val dir = Files.createTempDirectory("zarr_dsv2_wide").toString + "/store"
    val template = Template(Seq("t" -> 64L),
      (0 until 300).map(i => f"v$i%03d" -> VarSpec(Seq("t"), DType.F64))
        .toMap, Map.empty, Map.empty)
    Zarr.setupStore(dir, template, Map("t" -> 16))
    val sm = Zarr.openStore(dir)
    (0 until 4).foreach { k =>
      Zarr.writeRegion(dir, "v007", sm.arrays("v007"), Array(k * 16L),
        graft.ndarray.NdArray.fromDoubles(DType.F64, Array(16),
          Array.tabulate(16)(i => (k * 16 + i) * 2.0)))
    }
    val t0 = System.nanoTime()
    val df = spark.read.format("zarr").load(dir).select("t", "v007")
    val plan = df.queryExecution.optimizedPlan
    val schemas = plan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema()
    }
    assert(schemas.nonEmpty)
    assert(schemas.head.fieldNames.toSet == Set("t", "v007"),
      s"read schema must prune to the projection, got ${schemas.head}")
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      (0 until 64).map(t => (t.toLong, t * 2.0)))
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms < 20000, s"planning+reading 2-of-300 variables took $ms ms")
  }

  test("connector reads v3 sharded stores transparently") {
    val dir = Files.createTempDirectory("zarr_dsv2_v3").toString + "/store"
    XbeamDataset.fromLocal(spark, Fixtures.era5(), chunks = Map("time" -> 4))
      .toZarr(dir, zarrChunks = Map("time" -> 2), compressor = Some("gzip"),
        zarrFormat = 3, zarrShards = Map("time" -> 4))
    val df = spark.read.format("zarr").load(dir)
    assert(df.count() == 360)
    assert(df.filter("time < 4").rdd.getNumPartitions == 1) // shard-grid pruning
    val viaBridge = TabularBridge.toDataFrame(XbeamDataset.fromZarr(spark, dir))
      .orderBy("time", "latitude", "longitude").collect()
    assert(df.orderBy("time", "latitude", "longitude").collect()
      .sameElements(viaBridge))
  }

  test("coords option projects coordinate values alongside indices") {
    import graft.ndarray.{DType, NdArray}
    val dir = Files.createTempDirectory("zarr_dsv2_coords").toString + "/store"
    XbeamDataset.fromLocal(spark, Fixtures.era5(),
      coords = Map("time" -> NdArray.fromDoubles(DType.I64, Array(12),
        Array.tabulate(12)(_ * 100.0))),
      chunks = Map("time" -> 4)).toZarr(dir)
    val df = spark.read.format("zarr").option("coords", "true").load(dir)
    assert(df.columns.contains("time_coord"))
    val rows = df.select("time", "time_coord").distinct()
      .orderBy("time").collect()
    assert(rows.length == 12)
    rows.foreach(r => assert(r.getLong(1) == r.getLong(0) * 100))
    // default schema unchanged
    assert(!spark.read.format("zarr").load(dir).columns.contains("time_coord"))
  }

  test("string coordinate: projects, filters prune chunks, selLabels") {
    // Hand-built store with a |S8 station label coordinate (the layout
    // stock xarray writes for string coords) over dims (station, t).
    val p = Files.createTempDirectory("zarr_strcoord").toString + "/store"
    val root = java.nio.file.Paths.get(p)
    Files.createDirectories(root)
    Files.write(root.resolve(".zgroup"), """{"zarr_format":2}""".getBytes("UTF-8"))
    val nSta = 8; val nT = 4; val staChunk = 2
    val sdir = root.resolve("station")
    Files.createDirectories(sdir)
    Files.write(sdir.resolve(".zarray"),
      (s"""{"chunks":[$staChunk],"compressor":null,"dtype":"|S8",""" +
        s""""fill_value":"","filters":null,"order":"C",""" +
        s""""shape":[$nSta],"zarr_format":2}""").getBytes("UTF-8"))
    Files.write(sdir.resolve(".zattrs"),
      """{"_ARRAY_DIMENSIONS":["station"]}""".getBytes("UTF-8"))
    (0 until nSta / staChunk).foreach { c =>
      val b = new Array[Byte](staChunk * 8)
      (0 until staChunk).foreach { i =>
        val s = f"S${c * staChunk + i}%02d".getBytes("UTF-8")
        System.arraycopy(s, 0, b, i * 8, s.length)
      }
      Files.write(sdir.resolve(s"$c"), b)
    }
    val vdir = root.resolve("v")
    Files.createDirectories(vdir)
    Files.write(vdir.resolve(".zarray"),
      (s"""{"chunks":[$staChunk,$nT],"compressor":null,"dtype":"<i8",""" +
        s""""fill_value":0,"filters":null,"order":"C",""" +
        s""""shape":[$nSta,$nT],"zarr_format":2}""").getBytes("UTF-8"))
    Files.write(vdir.resolve(".zattrs"),
      """{"_ARRAY_DIMENSIONS":["station","t"]}""".getBytes("UTF-8"))
    (0 until nSta / staChunk).foreach { c =>
      val bb = java.nio.ByteBuffer.allocate(staChunk * nT * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until staChunk).foreach { i =>
        (0 until nT).foreach(t => bb.putLong((c * staChunk + i) * 100L + t))
      }
      Files.write(vdir.resolve(s"$c.0"), bb.array())
    }
    val df = spark.read.format("zarr").option("coords", "true").load(p)
    assert(df.schema("station_coord").dataType ==
      org.apache.spark.sql.types.StringType)
    // full read round-trips the labels
    val all = df.select("station", "station_coord").distinct()
      .orderBy("station").collect()
    assert(all.map(_.getString(1)).toSeq ==
      (0 until nSta).map(i => f"S$i%02d"))
    // equality predicate prunes to the one chunk holding the label
    val one = df.filter("station_coord = 'S05'")
    assert(one.rdd.getNumPartitions == 1)
    assert(one.select("v").orderBy("t").collect().map(_.getLong(0)).toSeq ==
      (0 until nT).map(t => 500L + t))
    // IN set spanning two chunks prunes to exactly those two
    val two = df.filter("station_coord IN ('S00', 'S07')")
    assert(two.rdd.getNumPartitions == 2)
    assert(two.count() == 2L * nT)
    // chunk-engine label selection: contiguous run lowers to a slice
    val ds = XbeamDataset.fromZarr(spark, p)
    assert(!ds.template.coords.contains("station")) // strings stay store-resident
    val sliced = TabularBridge.toDataFrame(
      ds.selLabels("station", Seq("S02", "S03")))
      .orderBy("station", "t").collect()
    assert(sliced.length == 2 * nT)
    assert(sliced.map(_.getLong(sliced.head.fieldIndex("v"))).toSeq ==
      (for (s <- 2 to 3; t <- 0 until nT) yield s * 100L + t))
    // non-contiguous labels route through the isel gather
    val gathered = TabularBridge.toDataFrame(
      ds.selLabels("station", Seq("S06", "S01")))
      .orderBy("station", "t").collect()
    assert(gathered.map(_.getLong(gathered.head.fieldIndex("v"))).toSeq ==
      (for (s <- Seq(1, 6); t <- 0 until nT) yield s * 100L + t))
    // an unknown label fails loudly — INCLUDING a partial miss (xarray
    // list-sel raises KeyError for any missing label; silently-narrower
    // data would hide a typo'd station id)
    val e = intercept[IllegalArgumentException](
      ds.selLabels("station", Seq("NOPE")))
    assert(e.getMessage.contains("no coordinate values match"))
    val ep = intercept[IllegalArgumentException](
      ds.selLabels("station", Seq("S02", "S93")))
    assert(ep.getMessage.contains("S93") && !ep.getMessage.contains("S02"))
  }

  test("column pruning reaches the store read") {
    val dir = writeStore()
    val df = spark.read.format("zarr").load(dir).select("time", "precip")
    assert(df.columns.toSeq == Seq("time", "precip"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("temperature"))
    assert(df.count() == 360)
  }

  test("readStream over a store: rate-limited micro-batches, exact once") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import org.apache.spark.sql.streaming.Trigger
    val dir = writeStore() // time=12 chunked 4 -> 3 chunks
    val stream = spark.readStream.format("zarr")
      .option("maxChunksPerTrigger", 1).load(dir)
    val name = "zarr_stream_" + System.nanoTime()
    val q = stream.groupBy(col("time"))
      .agg(count(lit(1)).as("n"), sum(col("temperature")).as("s"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // one chunk per micro-batch: 3 data-bearing batches
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches == 3, s"expected 3 rate-limited batches, got $dataBatches")
    // the folded streaming state equals the batch aggregation exactly
    val got = spark.table(name).orderBy("time").collect()
    val want = spark.read.format("zarr").load(dir)
      .groupBy(col("time"))
      .agg(count(lit(1)).as("n"), sum(col("temperature")).as("s"))
      .orderBy("time").collect()
    assert(got.sameElements(want))
  }

  test("stream offsets fingerprint the chunk log; a remapped store fails loudly") {
    import graft.sources.zarr.{ZarrInputPartition, ZarrMicroBatchStream}
    import org.apache.spark.sql.connector.read.InputPartition
    def streamOf(n: Int) = new ZarrMicroBatchStream(
      Array.tabulate[InputPartition](n)(i => ZarrInputPartition(Array(i.toLong))),
      null, 0L)
    val s6 = streamOf(6)
    // offsets serialize with the planned total
    val j = s6.initialOffset().json
    assert(j.contains("\"total\":6"), j)
    // same-shape restart round-trips, and legacy bare-count checkpoints
    // (pre-fingerprint) still load
    assert(s6.deserializeOffset(j).json == j)
    assert(s6.deserializeOffset("3").json.contains("\"n\":3"))
    // a checkpoint taken against a 6-chunk log must NOT silently remap
    // onto a store that now plans 8 chunks (grown along a non-leading
    // dim interleaves new chunks into the C-order log)
    val s8 = streamOf(8)
    val e = intercept[IllegalArgumentException] {
      s8.deserializeOffset(j)
    }
    assert(e.getMessage.contains("remapped"), e.getMessage)
  }

  test("runtime V2 filtering prunes chunks from an IN key set") {
    import graft.sources.zarr.{ZarrScan, ZarrScanBuilder}
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    import org.apache.spark.sql.graftshim.Lit
    import org.apache.spark.sql.types.{LongType, StringType}
    val dir = writeStore() // time=12 chunked 4 -> 3 chunks
    def freshScan(): ZarrScan = new ZarrScanBuilder(dir).build()
      .asInstanceOf[ZarrScan]
    assert(freshScan().planInputPartitions().length == 3)
    def in(dim: String, vals: Long*): Predicate =
      new Predicate("IN", (Expressions.column(dim) +:
        vals.map(v => Lit(v, LongType))).toArray)
    // keys 1 and 9 live in chunks [0,4) and [8,12) -> chunk [4,8) drops
    val s1 = freshScan()
    s1.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(in("time", 1L, 9L)))
    val kept = s1.planInputPartitions()
    assert(kept.length == 2, s"expected 2 chunks, got ${kept.length}")
    // an unparseable value list must NOT prune (safety: missing keys
    // would silently drop matching chunks)
    val s2 = freshScan()
    s2.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(
      new Predicate("IN", Array(Expressions.column("time"),
        Lit(org.apache.spark.unsafe.types.UTF8String.fromString("x"),
          StringType)))))
    assert(s2.planInputPartitions().length == 3)
    // non-dim references and other predicate names are ignored too
    val s3 = freshScan()
    s3.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(
      in("nosuchdim", 1L),
      new Predicate("=", Array(Expressions.column("time"),
        Lit(1L, LongType)))))
    assert(s3.planInputPartitions().length == 3)
    // filterAttributes exposes exactly the dim columns
    assert(freshScan().asInstanceOf[SupportsRuntimeV2Filtering]
      .filterAttributes().map(_.fieldNames.mkString(".")).toSet ==
      Set("time", "latitude", "longitude"))
  }

  test("limit pushdown plans only the chunks that cover the cap") {
    import graft.sources.zarr.{ZarrScan, ZarrScanBuilder}
    val dir = writeStore() // 3 chunks x 120 cells
    val b = new ZarrScanBuilder(dir)
    assert(b.pushLimit(5) && b.isPartiallyPushed())
    assert(b.build().asInstanceOf[ZarrScan].planInputPartitions().length == 1)
    val b2 = new ZarrScanBuilder(dir)
    b2.pushLimit(121) // needs two chunks
    assert(b2.build().asInstanceOf[ZarrScan].planInputPartitions().length == 2)
    // e2e: the residual limit keeps results exact
    val rows = spark.read.format("zarr").load(dir).limit(5).collect()
    assert(rows.length == 5)
    val all = spark.read.format("zarr").load(dir).count()
    assert(all == 360L) // no limit -> full plan untouched
  }

  test("scan reports exact stats; a small store auto-broadcasts in joins") {
    import graft.sources.zarr.{ZarrScan, ZarrScanBuilder}
    val dir = writeStore() // 12*5*6 = 360 cells, 1 var + 3 dim cols
    val scan = new ZarrScanBuilder(dir).build().asInstanceOf[ZarrScan]
    val stats = scan.estimateStatistics()
    assert(stats.numRows().getAsLong == 360L)
    // width = 3 dim cols * 8 + 2 f64 vars * 8 = 40 bytes/row
    assert(stats.sizeInBytes().getAsLong == 360L * 40)
    // effect: joined WITHOUT a broadcast hint, the small zarr side is
    // auto-broadcast (a stats-less DSv2 relation would report
    // defaultSizeInBytes and force a sort-merge join)
    val big = spark.range(0, 1000000).selectExpr("id % 12 AS time", "id AS k")
    val joined = big.join(spark.read.format("zarr").load(dir), Seq("time"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the 11 KB zarr side to auto-broadcast:\n$plan")
  }

  test("broadcast dim-table join plants a runtime filter; results exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    val dir = writeStore()
    // the build side must be a SOURCE-backed relation with a surviving
    // selective filter: a LocalRelation's filter constant-folds away
    // (ConvertToLocalRelation) and DPP then sees nothing selective
    val kdir = Files.createTempDirectory("zarr_dpp_keys").toString
    Seq((1L, "a"), (9L, "b"), (100L, "c")).toDF("time", "tag")
      .write.mode("overwrite").parquet(kdir)
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      val zarr = spark.read.format("zarr").load(dir)
      val keys = spark.read.parquet(kdir).filter($"time" < 50)
      val joined = zarr.join(broadcast(keys), Seq("time"))
        .orderBy("time", "latitude", "longitude", "tag")
      val rows = joined.collect()
      assert(rows.length == 2 * 5 * 6)
      assert(rows.map(_.getAs[Long]("time")).distinct.toSeq == Seq(1L, 9L))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("RuntimeFilters: [dynamicpruning"),
        s"expected a planted runtime filter on the zarr scan:\n$plan")
    } finally
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
  }
}
