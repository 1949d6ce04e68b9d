package graft

import org.apache.spark.sql.SparkSession

import graft.ndarray.{DType, NdArray}

/** Shared local SparkSession for specs (the EagerPipeline analogue,
  * reference test_util.py:32-51). */
object TestSpark {
  lazy val spark: SparkSession = {
    // Heap guard: the suite is sized for the pinned 8 GiB forked heap
    // (build.sbt). A smaller SPARK_GRAFT_HEAP turns OOMs/GC thrash into
    // mystery flakes — fail with a self-explaining message instead.
    locally {
      val maxGb = Runtime.getRuntime.maxMemory / (1 << 30).toDouble
      require(maxGb >= 7.5,
        f"Test suite requires the pinned 8 GiB forked heap (got $maxGb%.1f " +
          "GiB). Unset SPARK_GRAFT_HEAP (build.sbt javaOptions pins 8g).")
    }
    // Master is env-switchable so the SAME suite can run multi-JVM:
    //   SPARK_GRAFT_TEST_MASTER=local-cluster[2,2,2048] sbt test
    // exercises broadcast transport, executor-side classloading, remote
    // shuffle fetch, and closure serialization across real process
    // boundaries — the failure class local[N] structurally cannot catch.
    // The default keeps single-JVM local mode but with task retries
    // (local[4, 3]) so fault-injection specs can exercise the
    // idempotent-write-under-retry contract.
    val master = sys.env.getOrElse("SPARK_GRAFT_TEST_MASTER", "local[4, 3]")
    // Everything else is GraftSession's table, the conf Bench measures.
    GraftSession.build(master, Seq(
      "spark.app.name" -> "graft-tests",
      "spark.sql.shuffle.partitions" -> "4",
      // plan-shape specs inspect the gates' full optimizable plans;
      // eager query scoping would checkpoint results and hide them
      "spark.graft.queryScope" -> "lazy") ++
      // enough retries for the fault-injection specs across executor JVMs
      (if (master.startsWith("local-cluster")) Seq("spark.task.maxFailures" -> "3")
      else Nil))
  }

  /** True when the suite runs across process boundaries (executors in
    * forked JVMs). The handful of specs that depend on single-process
    * state BY DESIGN — e.g. distributed writes into the in-memory
    * `mem://` object store, whose namespace is a JVM static — `assume`
    * on this and cancel cleanly in multi-JVM runs. */
  def isMultiJvm: Boolean = spark.sparkContext.master.startsWith("local-cluster")

  /** Run `body` with session confs set, restoring each one's previous
    * value (or unsetting it) afterwards. */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** Pinned ScalaCheck seed with an env override: every property suite
  * routes its pinned seed through here, so
  * `SPARK_GRAFT_FUZZ_SEED=<long> sbt test` re-runs the ENTIRE fuzz
  * campaign on a fresh seed without touching source (the per-spec pin
  * is XOR-mixed in so suites still explore distinct spaces). Default =
  * the pin, keeping CI runs reproducible. */
object FuzzSeed {
  def apply(pinned: Long): Long =
    sys.env.get("SPARK_GRAFT_FUZZ_SEED") match {
      case Some(s) => s.toLong ^ pinned
      case None => pinned
    }
}

/** Deterministic synthetic fixtures — the dummy_era5_surface_dataset
  * analogue (reference test_util.py:76-99): seeded RNG, a couple of
  * float variables over (time, latitude, longitude). */
object Fixtures {

  def era5(time: Int = 12, lat: Int = 5,
           lon: Int = 6): Map[String, (Seq[String], NdArray)] = {
    val rng = new scala.util.Random(42)
    val n = time * lat * lon
    val temp = Array.fill(n)(280.0 + 10 * rng.nextDouble())
    val precip = Array.fill(n)(rng.nextDouble())
    Map(
      "temperature" -> (Seq("time", "latitude", "longitude"),
        NdArray.fromDoubles(DType.F64, Array(time, lat, lon), temp)),
      "precip" -> (Seq("time", "latitude", "longitude"),
        NdArray.fromDoubles(DType.F64, Array(time, lat, lon), precip)))
  }

  def arange(dtype: DType, shape: Int*): NdArray = {
    val n = shape.product
    NdArray.fromDoubles(dtype, shape.toArray, Array.tabulate(n)(_.toDouble))
  }
}
