package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graftshim.{ListenerBuses, SessionBridge}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The bounded-stream runner (`StreamOps.runBounded`): every stream runs
  * on its own clone of the caller's session, so the caller's confs are
  * never written, its listeners still see the stream, codegen is reused
  * across runs, and results do not depend on the state partition count. */
class StreamSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A small events + documents table pair in the shape of the gate
    * tables: 3000 events over two days (event_id dense from 0, `ts` a
    * TIMESTAMP_NTZ) and 400 documents with repeated texts. A fixed
    * directory under target/, so the gates' own scratch stores (named
    * after it) are reused across runs. */
  private lazy val dir: String = {
    val d = Path.of("target", "stream_session_spec").toAbsolutePath
    graft.core.Fs.deleteRecursively(d)
    Files.createDirectories(d)
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = d.resolve("_" + name)
      df.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, d.resolve(name))
      graft.core.Fs.deleteRecursively(tmp)
    }
    writeOne(spark.range(3000).selectExpr(
      "id AS event_id",
      "CAST(timestamp_seconds(1704067200 + (id * 97) % 172800) AS TIMESTAMP_NTZ) AS ts",
      "id % 97 AS user_id",
      "element_at(array('view', 'click', 'purchase'), CAST(id * 7 % 3 + 1 AS INT)) " +
        "AS event_type",
      "CAST(id * 37 % 1000 AS DOUBLE) / 10 AS value",
      "'{}' AS props"), "events.parquet")
    writeOne(spark.range(400).selectExpr(
      "id AS doc_id",
      "concat('doc text ', CAST(id % 150 AS STRING), ' alpha beta gamma') AS text",
      "'en' AS lang", "'web' AS source", "CAST(30 AS BIGINT) AS n_chars"),
      "documents.parquet")
    d.toString
  }

  private def gate(name: String): Array[Row] =
    graft.SparkEntry.queries(name)(spark, dir).collect()

  /** Records, per query run, its progress events' state partition counts
    * and the caller's two stream confs as read during each progress. */
  private final class Probe(s: SparkSession) extends StreamingQueryListener {
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val terminated = new java.util.concurrent.atomic.AtomicInteger()
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, String)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((e.progress.stateOperators.map(_.numShufflePartitions.toInt)
        .maxOption.getOrElse(0),
        s.conf.get("spark.sql.shuffle.partitions"),
        s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.incrementAndGet()
  }

  private def withProbe[T](body: Probe => T): T = {
    val p = new Probe(spark)
    spark.streams.addListener(p)
    try body(p) finally spark.streams.removeListener(p)
  }

  test("the stream path never writes the caller's session confs") {
    // Tables.normalizeTs / eventsTsType pin these two on the session
    // they load with; pre-set, so that the check below sees only the
    // stream path
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val before = spark.conf.getAll
    val parts = before("spark.sql.shuffle.partitions")
    val noData = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    withProbe { p =>
      Seq("s01_stream_hourly_windows", "s05_stream_interval_join",
          "s08_stream_from_zarr", "s10_stream_update_into_zarr").foreach { g =>
        val n0 = p.progress.size
        gate(g)
        SessionBridge.drainListeners(spark)
        assert(p.progress.size > n0, s"$g: no progress event reached the caller")
        val after = spark.conf.getAll
        val changed = (before.keySet ++ after.keySet)
          .filter(k => before.get(k) != after.get(k))
          .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
        assert(changed.isEmpty, s"$g changed the caller's confs: $changed")
      }
      val seen = p.progress.asScala.map(r => (r._2, r._3)).toSet
      assert(seen == Set((parts, noData)),
        s"the caller read $seen mid-stream, not ($parts, $noData)")
    }
  }

  test("a warm s01 run compiles no code and its stream reaches the caller's listeners") {
    gate("s01_stream_hourly_windows")
    withProbe { p =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      gate("s01_stream_hourly_windows")
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      SessionBridge.drainListeners(spark)
      assert(compiled == 0, s"a warm s01 run compiled $compiled classes")
      assert(p.started.get == 1)
      assert(p.progress.size == 2)
      assert(p.terminated.get == 1)
    }
  }

  test("results do not depend on the state partition count") {
    val cores = spark.sparkContext.defaultParallelism
    Seq("s01_stream_hourly_windows", "s02_stream_sessions", "s03_stream_dedup")
      .foreach { g =>
        def run(): (Array[Row], Set[Int]) = withProbe { p =>
          val rows = gate(g)
          SessionBridge.drainListeners(spark)
          (rows, p.progress.asScala.map(_._1).toSet)
        }
        val (derived, derivedParts) = run()
        // a 1-byte advisory partition size makes every input as large as
        // the rule's cap: the state partition count becomes the core count
        val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "1")
        val (forced, forcedParts) =
          try run() finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        assert(derivedParts == Set(1), s"$g derived $derivedParts state partitions")
        assert(forcedParts == Set(cores), s"$g forced $forcedParts state partitions")
        assert(derived.nonEmpty, s"$g emitted no rows")
        assert(forced.length == derived.length, g)
        assert(forced.toSeq == derived.toSeq, s"$g: rows differ between 1 and $cores " +
          "state partitions")
      }
  }

  test("a run leaves no listener bus behind beyond the query's own, also when it fails to start") {
    // each session whose StreamingQueryManager exists keeps a listener
    // bus on the context for good; Spark's own per-query session of a
    // stateful stream adds one, the stream's clone must not add another
    def growth(run: => Unit): Int = {
      SessionBridge.drainListeners(spark)
      val before = ListenerBuses.streamingBuses(spark)
      run
      SessionBridge.drainListeners(spark)
      ListenerBuses.streamingBuses(spark) - before
    }
    def counts(s: SparkSession, ckpt: String) =
      s.readStream.schema("doc_id BIGINT, text STRING")
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .groupBy("text").count()
        .writeStream.outputMode("complete").option("checkpointLocation", ckpt)
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => { b.collect(); () })
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    counts(spark, s"$dir/_ckpt_warm").awaitTermination()
    val direct = growth(counts(spark, s"$dir/_ckpt_direct").awaitTermination())
    assert(growth(StreamOps.runBounded(spark, "bounded", 0L)(counts)) == direct)
    var ckpt: String = null
    val failed = growth {
      val e = intercept[IllegalStateException] {
        StreamOps.runBounded(spark, "failed_start", 0L) { (_, c) =>
          ckpt = c
          Files.createDirectories(Path.of(c))
          throw new IllegalStateException("no stream")
        }
      }
      assert(e.getMessage == "no stream")
    }
    assert(failed == 0)
    assert(!Files.exists(Path.of(ckpt)), "checkpoint left behind")
  }

  test("stream session settings: sized state partitions, isolation kept for artifacts") {
    def settings(s: SparkSession, bytes: Long, noDataBatch: Boolean): Map[String, String] = {
      var seen = Map.empty[String, String]
      intercept[IllegalStateException] {
        StreamOps.runBounded(s, "settings", bytes, noDataBatch) { (ss, _) =>
          seen = Seq("spark.sql.shuffle.partitions",
            "spark.sql.streaming.noDataMicroBatches.enabled",
            "spark.sql.artifact.isolation.enabled").map(k => k -> ss.conf.get(k)).toMap
          throw new IllegalStateException("settings read")
        }
      }
      seen
    }
    val cores = spark.sparkContext.defaultParallelism
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val small = settings(spark, 0L, noDataBatch = true)
    assert(small("spark.sql.shuffle.partitions") == "1")
    assert(small("spark.sql.streaming.noDataMicroBatches.enabled") == "true")
    assert(small("spark.sql.artifact.isolation.enabled") == "false")
    val two = settings(spark, advisory + 1, noDataBatch = false)
    assert(two("spark.sql.shuffle.partitions") == math.min(2, cores).toString)
    assert(two("spark.sql.streaming.noDataMicroBatches.enabled") == "false")
    assert(settings(spark, Long.MaxValue / 2, noDataBatch = true)(
      "spark.sql.shuffle.partitions") == cores.toString)
    // a session holding its own classes keeps them served to its stream
    val withArtifact = spark.newSession()
    withArtifact.addArtifact(Array[Byte](1, 2, 3), "classes/graft/Probe.class")
    assert(settings(withArtifact, 0L, noDataBatch = true)(
      "spark.sql.artifact.isolation.enabled") == "true")
  }
}
