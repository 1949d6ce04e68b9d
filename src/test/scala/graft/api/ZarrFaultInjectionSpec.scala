package graft.api

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ndarray.{DType, NdArray}

/** Fault injection for the idempotent-write contract (SURVEY §9): the
  * reference relies on Beam's retry semantics plus idempotent Zarr
  * region writes (zarr.py:248-251 — "writes are idempotent, so this
  * doesn't matter for correctness"); our Spark spelling relies on task
  * retry plus the same region-write idempotence. These specs PROVE it:
  * a write task is killed once (throw on `TaskContext.attemptNumber ==
  * 0`, mid-partition, AFTER a sibling chunk of the same task has
  * already been written), Spark retries the task (the shared session
  * runs `local[4, 3]` / `spark.task.maxFailures=3`), and the resulting
  * store must be BIT-IDENTICAL to a no-failure run — for (a) batch
  * `toZarr`, (b) sharded-v3 `toZarr`, and (c) the streaming sink's
  * epoch commit. A marker file proves the injection actually fired
  * (accumulator updates from failed task attempts are not reliably
  * reported, so a filesystem marker is the honest witness). */
class ZarrFaultInjectionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(name: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get("target", "fault_spec", name).toAbsolutePath
    graft.core.Fs.deleteRecursively(p.toString)
    java.nio.file.Files.createDirectories(p.getParent)
    p
  }

  /** Relative-path → bytes map of every file under `root`. */
  private def snapshot(root: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(root)
    java.nio.file.Files.walk(base).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => base.relativize(p).toString ->
        java.nio.file.Files.readAllBytes(p).toSeq)
      .toMap
  }

  private def assertStoresIdentical(clean: String, injected: String): Unit = {
    val a = snapshot(clean)
    val b = snapshot(injected)
    assert(a.keySet == b.keySet,
      s"file sets differ: only-clean=${a.keySet -- b.keySet} " +
        s"only-injected=${b.keySet -- a.keySet}")
    a.foreach { case (rel, bytes) =>
      assert(b(rel) == bytes, s"bytes differ for $rel")
    }
    assert(a.nonEmpty, "comparison vacuous: no files written")
  }

  /** (t=16, x=4) arange data, chunks t→2: 8 chunks, so each of the 4
    * range partitions owns 2 chunks and a mid-partition failure lands
    * AFTER its task already region-wrote a sibling chunk. */
  private def dataset(inject: Option[String]): XbeamDataset = {
    val vals = NdArray.fromDoubles(DType.F64, Array(16, 4),
      Array.tabulate(64)(_.toDouble))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 2))
    inject match {
      case None => ds
      case Some(marker) =>
        ds.mapBlocks { c =>
          val tc = org.apache.spark.TaskContext.get()
          // chunk t-offset 6 (first value 24.0) is the SECOND chunk of
          // its partition; template inference runs this fn on a dummy
          // chunk on the driver where TaskContext.get is null
          if (tc != null && tc.attemptNumber == 0 &&
              c.vars("v").arr.getDouble(0) == 24.0) {
            java.nio.file.Files.write(java.nio.file.Paths.get(marker),
              Array[Byte](1))
            throw new RuntimeException("injected one-time task failure")
          }
          c
        }
    }
  }

  test("batch toZarr: store bit-identical after a one-time task kill") {
    val clean = freshDir("batch_clean.zarr")
    val injected = freshDir("batch_injected.zarr")
    val marker = freshDir("batch_marker").toString
    dataset(None).toZarr(clean.toString, compressor = Some("zlib"))
    dataset(Some(marker)).toZarr(injected.toString, compressor = Some("zlib"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(marker)),
      "injection never fired — the retry path was not exercised")
    assertStoresIdentical(clean.toString, injected.toString)
  }

  test("sharded-v3 toZarr: store bit-identical after a one-time task kill") {
    val clean = freshDir("shard_clean.zarr")
    val injected = freshDir("shard_injected.zarr")
    val marker = freshDir("shard_marker").toString
    // write unit = the 2-row shard of 2 inner chunks (t→1), zstd-coded
    dataset(None).toZarr(clean.toString, zarrChunks = Map("t" -> 1),
      zarrShards = Map("t" -> 2), compressor = Some("zstd"))
    dataset(Some(marker)).toZarr(injected.toString,
      zarrChunks = Map("t" -> 1), zarrShards = Map("t" -> 2),
      compressor = Some("zstd"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(marker)),
      "injection never fired — the retry path was not exercised")
    assertStoresIdentical(clean.toString, injected.toString)
  }

  test("streaming sink: epoch commit bit-identical after a one-time task kill") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.core.{Template, VarSpec}
    import graft.operators.ChunkTransforms.Pair

    val base = freshDir("stream")
    java.nio.file.Files.createDirectories(base)
    val src = base.resolve("src")
    java.nio.file.Files.createDirectories(src)
    // two micro-batch files: epoch 0 rows t<4, epoch 1 rows t in [4,8)
    def cells(tLo: Int, tHi: Int) =
      spark.range(tLo.toLong * 4, tHi.toLong * 4).select(
        (col("id") / 4).cast("long").as("t"),
        pmod(col("id"), lit(4)).cast("long").as("x"),
        (col("id") * 3).cast("double").as("fv"))
    cells(0, 4).coalesce(1).write.parquet(src.resolve("b0.d").toString)
    cells(4, 8).coalesce(1).write.parquet(src.resolve("b1.d").toString)
    val schema = StructType(Seq(
      StructField("t", LongType), StructField("x", LongType),
      StructField("fv", DoubleType)))
    val template = Template(
      Seq("t" -> 8L, "x" -> 4L),
      Map("fv" -> VarSpec(Seq("t", "x"), DType.F64)), Map.empty, Map.empty)

    def run(store: String, ckpt: String, marker: Option[String]): Unit = {
      XbeamDataset.fromPairs(spark, template, Map("t" -> 4, "x" -> 4),
        spark.emptyDataset[Pair](graft.operators.ChunkTransforms.pairEnc),
        validate = false).toZarr(store)
      val failOn = udf { (t: Long) =>
        marker.foreach { m =>
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null && tc.attemptNumber == 0 && t == 5L) {
            java.nio.file.Files.write(java.nio.file.Paths.get(m),
              Array[Byte](1))
            throw new RuntimeException("injected one-time stream task failure")
          }
        }
        t
      }
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.toString + "/*.d")
        .withColumn("t", failOn(col("t")))
        .repartition(3) // several writer tasks stage fragments per epoch
        .writeStream.format("zarr")
        .option("path", store)
        .option("dims", "t,x")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    val clean = base.resolve("clean.zarr").toString
    val injected = base.resolve("injected.zarr").toString
    val marker = base.resolve("marker").toString
    run(clean, base.resolve("ckpt_clean").toString, None)
    run(injected, base.resolve("ckpt_inj").toString, Some(marker))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(marker)),
      "injection never fired — the retry path was not exercised")
    assertStoresIdentical(clean, injected)
    // and the values are the stream's, not fill
    val got = graft.api.TabularBridge.toDataFrame(
      XbeamDataset.fromZarr(spark, injected)).orderBy("t", "x").collect()
    assert(got.length == 32)
    got.foreach { r =>
      assert(r.getDouble(r.fieldIndex("fv")) ==
        (r.getLong(0) * 4 + r.getLong(1)) * 3.0)
    }
  }
}
