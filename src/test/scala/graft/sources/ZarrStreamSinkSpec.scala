package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `writeStream.format("zarr")` end-to-end: the fragment-staging +
  * epoch-commit sink against a 2-D store, with one chunk's cells
  * deliberately split across many writer tasks (repartition before the
  * sink) so the driver-side merge path does real work, and a second
  * epoch upserting over the first. */
class ZarrStreamSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rmTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(q => { java.nio.file.Files.deleteIfExists(q); () })
    }

  test("streaming cells land as chunk merges; second epoch upserts") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.api.XbeamDataset
    import graft.core.{Template, VarSpec}
    import graft.ndarray.DType
    import graft.operators.ChunkTransforms.Pair

    val base = java.nio.file.Paths.get("target", "stream_sink_spec")
      .toAbsolutePath
    rmTree(base)
    java.nio.file.Files.createDirectories(base)
    val store = base.resolve("store.zarr").toString
    val src = base.resolve("src")
    val ckpt = base.resolve("ckpt").toString
    java.nio.file.Files.createDirectories(src)

    // 2-D template 10x6, chunks 4x6 -> 3 chunks along t; no data yet
    val template = Template(
      Seq("t" -> 10L, "x" -> 6L),
      Map("iv" -> VarSpec(Seq("t", "x"), DType.I64),
        "fv" -> VarSpec(Seq("t", "x"), DType.F64)),
      Map.empty, Map.empty)
    XbeamDataset.fromPairs(spark, template, Map("t" -> 4, "x" -> 6),
      spark.emptyDataset[Pair](graft.operators.ChunkTransforms.pairEnc),
      validate = false).toZarr(store, stats = true)

    // epoch 0: every cell of rows t<8; epoch 1: upsert t in [2, 4)
    def cells(tLo: Int, tHi: Int, bias: Long) =
      spark.range(tLo.toLong * 6, tHi.toLong * 6).select(
        (col("id") / 6).cast("long").as("t"),
        pmod(col("id"), lit(6)).cast("long").as("x"),
        (col("id") * 10 + bias).as("iv"),
        (col("id").cast("double") / 4 + bias).as("fv"))
    cells(0, 8, 0).coalesce(1).write.parquet(src.resolve("b0").toString + ".d")
    cells(2, 4, 1000000).coalesce(1).write
      .parquet(src.resolve("b1").toString + ".d")
    // file source streams dirs in name order under maxFilesPerTrigger
    val schema = StructType(Seq(
      StructField("t", LongType), StructField("x", LongType),
      StructField("iv", LongType), StructField("fv", DoubleType)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src.toString + "/*.d")
      .repartition(5) // force multi-task fragments per chunk
      .writeStream.format("zarr")
      .option("path", store)
      .option("dims", "t,x")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = graft.api.TabularBridge.toDataFrame(
      XbeamDataset.fromZarr(spark, store))
      .orderBy("t", "x").collect()
    assert(got.length == 60)
    got.foreach { r =>
      val t = r.getLong(0)
      val x = r.getLong(1)
      val id = t * 6 + x
      val bias = if (t >= 2 && t < 4) 1000000L else 0L
      if (t < 8) {
        assert(r.getLong(r.fieldIndex("iv")) == id * 10 + bias, s"iv at ($t,$x)")
        assert(r.getDouble(r.fieldIndex("fv")) == id.toDouble / 4 + bias,
          s"fv at ($t,$x)")
      } else {
        // never-written chunk: store fill values
        assert(r.getLong(r.fieldIndex("iv")) == 0L, s"fill iv at ($t,$x)")
        assert(r.getDouble(r.fieldIndex("fv")).isNaN ||
          r.getDouble(r.fieldIndex("fv")) == 0.0, s"fill fv at ($t,$x)")
      }
    }
    // the upsert tombstoned the stats sidecar (stale bounds must not
    // prune future scans)
    assert(graft.sources.zarr.ChunkStats.readIndex(store).isEmpty,
      "stats sidecar must be tombstoned by a streaming write")
    // stage dirs are cleaned up after each epoch commit
    val stage = java.nio.file.Paths.get(store, ".stream_stage")
    if (java.nio.file.Files.exists(stage)) {
      import scala.jdk.CollectionConverters._
      val left = java.nio.file.Files.walk(stage).iterator().asScala
        .count(_.toString.endsWith(".frag"))
      assert(left == 0, s"$left orphaned fragments")
    }
    rmTree(base)
  }

  test("epoch replay: re-merging the same fragments converges byte-stably") {
    import graft.api.XbeamDataset
    import graft.core.{Template, VarSpec}
    import graft.ndarray.DType
    import graft.operators.ChunkTransforms.Pair
    import graft.sources.zarr.{ZarrStreamFormat, ZarrStreamGrid}
    val base = java.nio.file.Files.createTempDirectory("zss_replay")
    val store = base.resolve("store.zarr").toString
    XbeamDataset.fromPairs(spark,
      Template(Seq("t" -> 6L),
        Map("v" -> VarSpec(Seq("t"), DType.F64)), Map.empty, Map.empty),
      Map("t" -> 4),
      spark.emptyDataset[Pair](graft.operators.ChunkTransforms.pairEnc),
      validate = false).toZarr(store)
    val grid = ZarrStreamGrid(store, Seq("t"), Array(6L), Array(4),
      Array(0), Array(false), Array("v"), Array(1), Array(0) /* double */,
      1000L)
    // two fragments for chunk [0,4): cells 1 and 3 from different tasks
    def frag(cell: Long, value: Double): Array[Byte] =
      ZarrStreamFormat.encode(grid, Array(0L), Array(4),
        Array(cell, java.lang.Double.doubleToRawLongBits(value)))
    val st = graft.sources.BlobStore.forUrl(store)
    val u1 = s"$store/.stream_stage/ep0/0/a.frag"
    val u2 = s"$store/.stream_stage/ep0/0/b.frag"
    st.write(u1, frag(1L, 42.5))
    st.write(u2, frag(3L, -7.25))
    val sm = graft.sources.Zarr.openStore(store)
    def readBack(): Seq[Long] = {
      val meta = sm.dataVars("v")
      val arr = graft.sources.Zarr.readRegion(store, "v", meta,
        Array(0L), Array(4))
      (0 until 4).map(i =>
        java.lang.Double.doubleToRawLongBits(arr.getDouble(i)))
    }
    ZarrStreamFormat.mergeChunk(store, sm, grid, Seq(u1, u2))
    val first = readBack()
    assert(java.lang.Double.longBitsToDouble(first(1)) == 42.5 &&
      java.lang.Double.longBitsToDouble(first(3)) == -7.25)
    // replayed commit (same fragments) must converge to the same bits
    ZarrStreamFormat.mergeChunk(store, sm, grid, Seq(u1, u2))
    assert(readBack() == first)
  }

  test("float/int stream columns write exact values; narrow stores reject") {
    import org.apache.spark.sql.types._
    import graft.api.XbeamDataset
    import graft.core.{Template, VarSpec}
    import graft.ndarray.DType
    import graft.operators.ChunkTransforms.Pair

    val base = java.nio.file.Paths.get("target", "stream_sink_dtype_spec")
      .toAbsolutePath
    rmTree(base)
    java.nio.file.Files.createDirectories(base)
    def mkStore(name: String, dt: DType): String = {
      val store = base.resolve(name).toString
      val template = Template(Seq("t" -> 6L),
        Map("v" -> VarSpec(Seq("t"), dt)), Map.empty, Map.empty)
      XbeamDataset.fromPairs(spark, template, Map("t" -> 3),
        spark.emptyDataset[Pair](graft.operators.ChunkTransforms.pairEnc),
        validate = false).toZarr(store)
      store
    }

    // FloatType/IntegerType columns into an F64/I64 store: the writer
    // must read each UnsafeRow slot with the column's EXACT width
    // (getFloat/getInt) — getDouble on a FloatType slot reinterprets
    // the low 4 bytes as half a double and writes garbage. The public
    // writeStream path blocks Float/Int columns at the table-schema
    // check, so drive the DataWriter directly with real UnsafeRows.
    val f64Store = mkStore("f64.zarr", DType.F64)
    val schema = StructType(Seq(
      StructField("t", IntegerType), StructField("v", FloatType)))
    val writeGrid = graft.sources.zarr.ZarrStreamGrid(
      f64Store, Seq("t"), Array(6L), Array(3),
      Array(0), Array(true) /* int dim */, Array("v"), Array(1),
      Array(1) /* float accessor */, 1000L)
    val writer = new graft.sources.zarr.ZarrStreamDataWriter(
      writeGrid, 0, 0L, 0L)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(schema)
    val expect = (0 until 6).map(i => (i.toFloat / 2.0f + 0.25f).toDouble)
    (0 until 6).foreach { i =>
      writer.write(proj(org.apache.spark.sql.catalyst.InternalRow(
        i, i.toFloat / 2.0f + 0.25f)))
    }
    val msg = writer.commit().asInstanceOf[graft.sources.zarr.ZarrStreamCommitMessage]
    val sm = Zarr.openStore(f64Store)
    msg.frags.groupBy(_.chunkId).foreach { case (_, fs) =>
      graft.sources.zarr.ZarrStreamFormat.mergeChunk(
        f64Store, sm, writeGrid, fs.map(_.url))
    }
    val got = XbeamDataset.fromZarr(spark, f64Store)
      .collectConsolidated()._2.vars("v").arr.toDoubles.toSeq
    assert(got == expect, s"float column bits mangled: $got vs $expect")

    // narrowing stores reject loudly at sink construction
    def buildWrite(store: String, sch: StructType) = {
      val opts = new java.util.HashMap[String, String]()
      opts.put("dims", "t")
      new graft.sources.zarr.ZarrStreamingWrite(store, sch, opts)
    }
    val f32Store = mkStore("f32.zarr", DType.F32)
    val i32Store = mkStore("i32.zarr", DType.I32)
    val i64Store = mkStore("i64.zarr", DType.I64)
    val eF = intercept[IllegalArgumentException](buildWrite(f32Store,
      StructType(Seq(StructField("t", LongType), StructField("v", DoubleType)))))
    assert(eF.getMessage.contains("narrowing on merge"))
    val eI = intercept[IllegalArgumentException](buildWrite(i32Store,
      StructType(Seq(StructField("t", LongType), StructField("v", LongType)))))
    assert(eI.getMessage.contains("narrowing on merge"))
    // integral column into a float store (and vice versa) also rejects
    val eX = intercept[IllegalArgumentException](buildWrite(i64Store,
      StructType(Seq(StructField("t", LongType), StructField("v", DoubleType)))))
    assert(eX.getMessage.contains("F64"))
  }

  test("streaming cells merge into a v3 SHARDED store (shard-granular upsert)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.api.XbeamDataset
    import graft.core.{Template, VarSpec}
    import graft.ndarray.DType
    import graft.operators.ChunkTransforms.Pair

    val base = java.nio.file.Paths.get("target", "stream_sink_shard_spec")
      .toAbsolutePath
    rmTree(base)
    java.nio.file.Files.createDirectories(base)
    val store = base.resolve("store.zarr").toString
    // t=12: inner zarr chunks of 2 packed 3-per-shard → shards of 6;
    // the stream's addressable unit is the SHARD (inferChunks returns
    // the shard grid), so merges land as whole-shard region writes
    val template = Template(Seq("t" -> 12L),
      Map("v" -> VarSpec(Seq("t"), DType.F64)), Map.empty, Map.empty)
    XbeamDataset.fromPairs(spark, template, Map("t" -> 6),
      spark.emptyDataset[Pair](graft.operators.ChunkTransforms.pairEnc),
      validate = false).toZarr(store, zarrChunksPerShard = Map("t" -> 3))
    assert(Zarr.openStore(store).arrays("v").shardChunks == Some(Seq(2)))

    val src = base.resolve("src")
    java.nio.file.Files.createDirectories(src)
    // cells span both shards, sparse (t = 1, 4, 7, 10)
    spark.range(4).select((col("id") * 3 + 1).as("t"),
        (col("id").cast("double") * 10 + 0.5).as("v"))
      .coalesce(1).write.parquet(src.toString + "/b0.d")
    val schema = StructType(Seq(
      StructField("t", LongType), StructField("v", DoubleType)))
    val q = spark.readStream.schema(schema).parquet(src.toString + "/*.d")
      .writeStream.format("zarr")
      .option("path", store).option("dims", "t")
      .option("checkpointLocation", base.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val got = XbeamDataset.fromZarr(spark, store)
      .collectConsolidated()._2.vars("v").arr.toDoubles.toSeq
    (0 until 12).foreach { t =>
      if (t % 3 == 1) assert(got(t) == (t / 3) * 10 + 0.5, s"t=$t got ${got(t)}")
      else assert(got(t).isNaN, s"t=$t expected fill, got ${got(t)}")
    }
  }

  test("sink rejects a missing store, unknown dims, and bad columns") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("t", LongType), StructField("v", DoubleType)))
    def tryStart(path: String, dims: String) = {
      val src = java.nio.file.Files
        .createTempDirectory("zss_src").toString
      val ck = java.nio.file.Files
        .createTempDirectory("zss_ck").toString
      // a non-empty source so the sink write actually constructs
      spark.range(3).selectExpr("id AS t", "CAST(id AS DOUBLE) AS v")
        .coalesce(1).write.mode("append").parquet(src)
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.format("zarr")
        .option("path", path).option("dims", dims)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    val e1 = intercept[Exception](
      tryStart("/tmp/definitely_missing_store.zarr", "t"))
    assert(e1.getMessage.contains("EXISTING store") ||
      Option(e1.getCause).exists(_.getMessage.contains("EXISTING store")),
      s"got: ${e1.getMessage}")
  }
}
