package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of this project. Bench, Verify, Probe and
  * the test fixture all build through [[build]], so the correctness dump
  * and the tests run under the conf Bench measures; each conf's reason is
  * kept next to it in [[conf]]. Environment:
  *   - `SPARK_GRAFT_CPUS`: cores (default: the JVM's available processors);
  *   - `SPARK_GRAFT_MASTER`: master (default `local[cores]`);
  *   - `SPARK_GRAFT_EXTRA_CONF`: "k=v;k2=v2" overrides, applied last. */
object GraftSession {

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_MASTER` switches the same entry points to a multi-JVM
    * master (e.g. `local-cluster[2,8,4096]`, the cross-executor probe);
    * timings there are not comparable to the single-JVM baseline. */
  def defaultMaster: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")

  /** Parse `SPARK_GRAFT_EXTRA_CONF` ("k=v;k2=v2"; blank tokens are
    * skipped): a token without `=` or with an empty key fails, naming
    * the token, instead of being dropped. */
  def extraConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.trim.nonEmpty).map { kv =>
      val eq = kv.indexOf('=')
      val key = kv.take(eq).trim // "" when there is no '='
      require(key.nonEmpty, s"SPARK_GRAFT_EXTRA_CONF: token '$kv' is not key=value")
      (key, kv.drop(eq + 1).trim)
    }

  /** The conf table for `master`, in the order it is applied: the
    * project's confs, then the caller's `overrides`, then
    * `SPARK_GRAFT_EXTRA_CONF`. */
  def conf(master: String, overrides: Seq[(String, String)] = Nil): Seq[(String, String)] =
    Seq(
      "spark.master" -> master,
      "spark.sql.shuffle.partitions" -> cores.toString,
      // pin the zone so the events TIMESTAMP_NTZ->TIMESTAMP conversion
      // (Tables.normalizeTs) is host-independent
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // Size post-shuffle partitions from DATA (AQE advisory size, 64 MB
      // default), not from the core count: with the default
      // parallelismFirst=true, AQE refuses to coalesce below the session
      // parallelism, so at local[32] every tiny sf0.1 exchange ran 32
      // near-empty reduce tasks of pure fixed cost — measured 32 cores
      // SLOWER than 8 (BENCH_r21 139.4 s vs BENCH_r21_c8 114.5 s; the
      // r22 subset A/B reads 13.33 -> 12.43 s from this one flag). This
      // is the Spark-documented production recommendation and is
      // scale-correct at 100 TB: partitions come out ~advisory-sized
      // whatever the cluster width.
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      // chunk keys, chunks and accumulators cross shuffles as small ids
      "spark.kryo.classesToRegister" -> GraftKryo.classes) ++
      // executor JVMs are forked fresh: they need this JVM's classpath
      (if (master.startsWith("local-cluster"))
        Seq("spark.executor.extraClassPath" -> System.getProperty("java.class.path"))
      else Nil) ++
      overrides ++
      // ad-hoc overrides for A/B experiments and cluster-scale
      // parameterization without editing this file
      sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(extraConf)

  def build(master: String = defaultMaster,
            overrides: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
    conf(master, overrides).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Quiet the streaming planner's per-micro-batch AQE warnings
    // ("spark.sql.adaptive.enabled is not supported in streaming" /
    // "Disabling AQE since AQE is not supported in stateful
    // workloads"): expected in local streaming runs, and they would
    // otherwise dominate the output and mask real warnings.
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Seq(
      "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream"
    ).foreach(n => Configurator.setLevel(n, Level.ERROR))
    spark
  }
}
