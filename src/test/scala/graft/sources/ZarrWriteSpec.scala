package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `df.write.format("zarr")` — the SQL write surface over the same
  * distributed bridge + region-write pipeline as the typed API. */
class ZarrWriteSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def freshPath(): String =
    Files.createTempDirectory("zarr_write").toString + "/store"

  private def grid(n: Int, w: Int) = {
    spark.range(n.toLong * w).select(
      (col("id") / w).cast("long").as("t"),
      (col("id") % w).cast("long").as("x"),
      col("id").cast("double").as("v"),
      (col("id") * 2).as("iv"))
  }

  test("overwrite writes a store the reader and the typed API both open") {
    val path = freshPath()
    grid(12, 4).write.format("zarr").mode("overwrite")
      .option("dims", "t,x").option("chunks", "t=4").save(path)
    // read schema: dims (t, x) then vars SORTED (iv, v)
    val back = spark.read.format("zarr").load(path).orderBy("t", "x").collect()
    assert(back.length == 48)
    assert(back.map(_.getDouble(3)).toSeq == (0 until 48).map(_.toDouble))
    assert(back.map(_.getLong(2)).toSeq == (0 until 48).map(_ * 2L))
    // the typed API opens the same store
    val xds = graft.api.XbeamDataset.fromZarr(spark, path)
    assert(xds.template.dimSizes == Map("t" -> 12L, "x" -> 4L))
    assert(xds.chunkSizes == Map("t" -> 4, "x" -> 4))
  }

  test("overwrite clears a previous grid; stats option writes the sidecar") {
    val path = freshPath()
    grid(12, 4).write.format("zarr").mode("overwrite")
      .option("dims", "t,x").option("chunks", "t=2").save(path)
    // re-write the SAME path with a different grid and sizes
    grid(6, 4).write.format("zarr").mode("overwrite")
      .option("dims", "t,x").option("chunks", "t=3")
      .option("stats", "true").save(path)
    val back = spark.read.format("zarr").load(path)
    assert(back.count() == 24)
    assert(graft.sources.zarr.ChunkStats.readIndex(path).isDefined)
    // stats-backed aggregate pushdown works on the SQL-written store
    import org.apache.spark.sql.functions.{max, min}
    val agg = back.agg(min(col("v")), max(col("v")))
    assert(agg.queryExecution.executedPlan.toString.contains("aggPushed"))
    val r = agg.head()
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 23.0)
  }

  test("append region-writes into an extended store") {
    val path = freshPath()
    grid(8, 4).write.format("zarr").mode("overwrite")
      .option("dims", "t,x").option("chunks", "t=4").save(path)
    Zarr.extendDim(path, "t", 12)
    // the appended slab carries its GLOBAL t indices
    val tail = spark.range(8L * 4, 12L * 4).select(
      (col("id") / 4).cast("long").as("t"),
      (col("id") % 4).cast("long").as("x"),
      col("id").cast("double").as("v"),
      (col("id") * 2).as("iv"))
    tail.write.format("zarr").mode("append")
      .option("dims", "t,x").option("sizes", "t=12,x=4").save(path)
    val back = spark.read.format("zarr").load(path).orderBy("t", "x").collect()
    assert(back.length == 48)
    assert(back.map(_.getDouble(3)).toSeq == (0 until 48).map(_.toDouble))
  }

  test("bad inputs fail loudly") {
    val path = freshPath()
    val e1 = intercept[Exception] {
      grid(4, 4).write.format("zarr").mode("overwrite").save(path)
    }
    assert(e1.getMessage.contains("dims"))
    val e2 = intercept[Exception] {
      grid(4, 4).withColumn("s", org.apache.spark.sql.functions.lit("x"))
        .write.format("zarr").mode("overwrite").option("dims", "t,x").save(path)
    }
    assert(e2.getMessage.contains("unsupported type"))
    val e3 = intercept[Exception] {
      grid(4, 4).write.format("zarr").mode("append")
        .option("dims", "t,x").save(freshPath())
    }
    assert(e3.getMessage.contains("append mode needs an existing store"))
  }
}
