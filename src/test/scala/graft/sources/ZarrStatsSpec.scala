package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.Fixtures.arange
import graft.api.XbeamDataset
import graft.ndarray.DType
import graft.sources.zarr.{ChunkStats, ZarrScanBuilder}

/** Chunk-stats zone maps: written in the same pass as toZarr, used by
  * the DSv2 scan to prune chunks on data-variable predicates, and
  * invalidated by every mutation path. */
class ZarrStatsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  /** (t=24, x=4) store, v = global linear index (monotone in C-order),
    * chunked t->4 => 6 chunks, each covering 16 consecutive values. */
  private def statsStore(stats: Boolean = true): String = {
    val dir = Files.createTempDirectory("zarr_stats").toString + "/store"
    XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), arange(DType.F64, 24, 4)),
          "iv" -> (Seq("t", "x"), arange(DType.I64, 24, 4))),
      chunks = Map("t" -> 4)).toZarr(dir, stats = stats)
    dir
  }

  private def planned(dir: String, filters: org.apache.spark.sql.sources.Filter*): Int = {
    val b = new ZarrScanBuilder(dir)
    b.pushFilters(filters.toArray)
    b.build().toBatch.planInputPartitions().length
  }

  test("selective predicate prunes chunks; results stay exact") {
    val dir = statsStore()
    assert(ChunkStats.readIndex(dir).isDefined)
    // only the last of 6 chunks holds v >= 80
    assert(planned(dir) == 6)
    assert(planned(dir, GreaterThanOrEqual("v", 80.0)) == 1)
    assert(planned(dir, LessThan("v", 16.0)) == 1)
    // conjunction of var + var predicates intersects
    assert(planned(dir, GreaterThanOrEqual("v", 16.0), LessThan("v", 48.0)) == 2)
    // int var bounds prune too (conservative one-ulp widening keeps
    // the owning chunk)
    assert(planned(dir, GreaterThanOrEqual("iv", 80L)) == 1)
    // end-to-end: the residual filter keeps semantics exact
    val got = spark.read.format("zarr").load(dir)
      .filter(col("v") >= 80.0).orderBy("t", "x")
      .select("v").collect().map(_.getDouble(0))
    assert(got.toSeq == (80 until 96).map(_.toDouble))
  }

  test("without stats nothing prunes (filters still push residually)") {
    val dir = statsStore(stats = false)
    assert(ChunkStats.readIndex(dir).isEmpty)
    assert(planned(dir, GreaterThanOrEqual("v", 80.0)) == 6)
  }

  test("extendDim tombstones the sidecar; scan falls back to all chunks") {
    val dir = statsStore()
    Zarr.extendDim(dir, "t", 28)
    assert(ChunkStats.readIndex(dir).isEmpty)
    assert(planned(dir, GreaterThanOrEqual("v", 80.0)) == 7)
  }

  test("append path (needsSetup=false) tombstones before writing") {
    val dir = statsStore()
    // overwrite-in-place append: same grid, new values — recorded
    // bounds would lie, so the append must tombstone the sidecar
    XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), arange(DType.F64, 24, 4)),
          "iv" -> (Seq("t", "x"), arange(DType.I64, 24, 4))),
      chunks = Map("t" -> 4)).toZarr(dir, needsSetup = false)
    assert(ChunkStats.readIndex(dir).isEmpty)
  }

  test("rebuildStats restores pruning after a tombstoning append") {
    val dir = statsStore()
    // v < 16 touches only the first of 6 chunks when stats are live
    assert(planned(dir, LessThan("v", 16.0)) == 1)
    // append rewrites chunk rows t<4 and tombstones the sidecar
    spark.range(16).selectExpr("id div 4 AS t", "id % 4 AS x",
        "CAST(id AS DOUBLE) * 0.5 AS v", "id AS iv")
      .write.format("zarr").option("dims", "t,x")
      .option("sizes", "t=24,x=4").mode("append").save(dir)
    assert(ChunkStats.readIndex(dir).isEmpty, "append must tombstone")
    assert(planned(dir, LessThan("v", 16.0)) == 6, "no stats -> no pruning")
    // one scan pass rebuilds the sidecar; pruning returns and results
    // reflect the post-append data
    XbeamDataset.rebuildStats(spark, dir)
    assert(ChunkStats.readIndex(dir).nonEmpty)
    assert(planned(dir, LessThan("v", 16.0)) == 1)
    val n = spark.read.format("zarr").load(dir)
      .filter(col("v") < 16.0).count()
    assert(n == 16L)
  }

  test("grid-mismatched sidecar is ignored, not trusted") {
    val dir = statsStore()
    // tamper: claim the stats were computed on a different grid
    val idx = ChunkStats.indexUrl(dir)
    val store = BlobStore.forUrl(dir)
    val json = new String(store.read(idx), "UTF-8")
    store.write(idx, json.replace("\"grid\":[6,1]", "\"grid\":[3,1]").getBytes("UTF-8"))
    assert(planned(dir, GreaterThanOrEqual("v", 80.0)) == 6)
  }

  test("count/min/max aggregate pushdown answers with every chunk file deleted") {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val dir = statsStore()
    // delete every chunk payload (keep .zarray/.zattrs/.zmetadata and
    // the stats sidecar): a metadata-answered aggregate must not notice
    import scala.jdk.CollectionConverters._
    Seq("v", "iv").foreach { v =>
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, v)).iterator().asScala
        .filter(p => p.getFileName.toString.matches("\\d+(\\.\\d+)*"))
        .foreach(java.nio.file.Files.delete)
    }
    val df = spark.read.format("zarr").load(dir)
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
        max(col("v")).as("mx"), min(col("t")).as("tmn"),
        max(col("t")).as("tmx"))
    assert(df.queryExecution.executedPlan.toString.contains("aggPushed"))
    val row = df.head()
    assert(row.getLong(0) == 96L)
    assert(row.getDouble(1) == 0.0 && row.getDouble(2) == 95.0)
    assert(row.getLong(3) == 0L && row.getLong(4) == 23L)
  }

  test("NaNs block MAX pushdown (Spark orders NaN above all); MIN still pushes") {
    import org.apache.spark.sql.functions.{max, min}
    val dir = Files.createTempDirectory("zarr_stats_nan").toString + "/store"
    val vals = Array.tabulate(16)(_.toDouble)
    vals(5) = Double.NaN
    XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), graft.ndarray.NdArray.fromDoubles(
        graft.ndarray.DType.F64, Array(16), vals))),
      chunks = Map("t" -> 4)).toZarr(dir, stats = true)
    val mxPlan = spark.read.format("zarr").load(dir).agg(max(col("v")))
    assert(!mxPlan.queryExecution.executedPlan.toString.contains("aggPushed"))
    assert(mxPlan.head().getDouble(0).isNaN) // Spark max: NaN wins
    val mnPlan = spark.read.format("zarr").load(dir).agg(min(col("v")))
    assert(mnPlan.queryExecution.executedPlan.toString.contains("aggPushed"))
    assert(mnPlan.head().getDouble(0) == 0.0)
  }

  test("filters block aggregate pushdown (residual semantics)") {
    import org.apache.spark.sql.functions.{count, lit}
    val dir = statsStore()
    val filtered = spark.read.format("zarr").load(dir)
      .filter(col("t") < 4).agg(count(lit(1)))
    assert(!filtered.queryExecution.executedPlan.toString.contains("aggPushed"))
    assert(filtered.head().getLong(0) == 16L)
    val filteredGrouped = spark.read.format("zarr").load(dir)
      .filter(col("t") < 4).groupBy(col("t")).agg(count(lit(1)))
    assert(!filteredGrouped.queryExecution.executedPlan.toString
      .contains("AggPushed"))
    assert(filteredGrouped.count() == 4)
  }

  test("grouped-by-dim pushdown answers from the grid with chunks deleted") {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val dir = statsStore()
    import scala.jdk.CollectionConverters._
    Seq("v", "iv").foreach { v =>
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, v)).iterator().asScala
        .filter(p => p.getFileName.toString.matches("\\d+(\\.\\d+)*"))
        .foreach(java.nio.file.Files.delete)
    }
    // GROUP BY t: count = 4 (the x extent), min/max of t = the group
    // value, max of x = 3 — all grid arithmetic, zero chunk reads
    val df = spark.read.format("zarr").load(dir)
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"), min(col("t")).as("tmn"),
        max(col("x")).as("xmx"))
      .orderBy(col("t"))
    assert(df.queryExecution.executedPlan.toString.contains("groupedAggPushed"))
    val rows = df.collect()
    assert(rows.length == 24)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i.toLong && r.getLong(1) == 4L &&
        r.getLong(2) == i.toLong && r.getLong(3) == 3L, s"row $i: $r")
    }
    // two group dims: one row per (t, x) cell, count 1
    val df2 = spark.read.format("zarr").load(dir)
      .groupBy(col("t"), col("x")).agg(count(lit(1)).as("n"))
    assert(df2.queryExecution.executedPlan.toString.contains("groupedAggPushed"))
    assert(df2.collect().forall(_.getLong(2) == 1L))
    assert(df2.count() == 96)
    // grouping by a VARIABLE column needs the data: must NOT push
    // (chunks are deleted, so a wrong pushdown would be loudly visible)
    val byVar = spark.read.format("zarr").load(dir)
      .groupBy(col("iv")).agg(count(lit(1)))
    assert(!byVar.queryExecution.executedPlan.toString.contains("AggPushed"))
    // min over a float var grouped by dim can't answer from metadata
    val varAgg = spark.read.format("zarr").load(dir)
      .groupBy(col("t")).agg(min(col("v")))
    assert(!varAgg.queryExecution.executedPlan.toString.contains("AggPushed"))
  }

  test("conservative Long->Double endpoints beyond 2^53") {
    val big = (1L << 60) + 1
    assert(BigDecimal(ChunkStats.floorDouble(big)) <= BigDecimal(big))
    assert(BigDecimal(ChunkStats.ceilDouble(big)) >= BigDecimal(big))
    assert(ChunkStats.floorDouble(42L) == 42.0)
    assert(ChunkStats.ceilDouble(-42L) == -42.0)
    assert(BigDecimal(ChunkStats.floorDouble(Long.MaxValue)) <= BigDecimal(Long.MaxValue))
    assert(BigDecimal(ChunkStats.ceilDouble(Long.MinValue)) >= BigDecimal(Long.MinValue))
  }
}
