package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.api.XbeamDataset
import graft.ndarray.{DType, NdArray}

/** Command line of one benchmark run (see run.py for the user-facing
  * entry point, which builds the harness and generates the tables). */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: Path, data: String,
                      scale: String, inject: Option[String], cores: Int,
                      inputMiB: Double)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")).toAbsolutePath,
      m.getOrElse("data", ""), m.getOrElse("scale", "full"), m.get("inject"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.getOrElse("input-mib", "0").toDouble)
  }
}

/** A timed pass: its seconds and the wall-clock window it covered. */
final case class Pass(seconds: Double, startMs: Long, endMs: Long)

object Main {
  val gatesMix: Seq[String] = Seq("x01", "x09", "x26", "x10", "s01", "q01")
  val gatesDedup: Seq[String] = Seq("d02", "d07", "e19")

  /** The session configuration, as graft.Bench sets it. */
  def sessionConf(cores: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.kryo.classesToRegister" -> graft.GraftKryo.classes,
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("spark-warehouse").toString)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val builder = SparkSession.builder().appName("perfbench")
    sessionConf(args.cores, args.work).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSec = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val tracer = new Tracer(spark)
    val run = new Run(spark, args, tracer)
    val result = try run.execute() finally {
      tracer.close()
      spark.stop()
    }
    val out = result ++ Map(
      "session_s" -> sessionSec,
      "conf" -> sessionConf(args.cores, args.work)
        .filterNot(kv => kv._1.endsWith(".dir")).toMap,
      "cores" -> args.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    Util.writeText(args.work.resolve("jvm_result.json"), Util.Json.render(out))
  }
}

/** One benchmark run: set-up, an untimed warmup pass, timed passes for
  * the requested seconds (traced runs add an untraced stretch first so
  * the tracing overhead can be reported), output checks after every
  * pass, then in traced runs the layer probes. */
final class Run(spark: SparkSession, args: Args, tracer: Tracer) {
  private val MiB = 1048576.0
  private val work = args.work
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private val layer = mutable.LinkedHashMap.empty[String, Double]

  /** Progress line with the JVM's uptime, for the run log. */
  private def log(msg: String): Unit =
    println(f"[${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%8.2f] $msg")

  private def timedPass(i: Int)(body: => Unit): Pass = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    tracer.span(i.toString, "pass")(body)
    Pass((System.nanoTime() - t0) / 1e9, w0, System.currentTimeMillis())
  }

  /** Passes until `seconds` have been spent in them (at least `min`);
    * a pass that failed counts with the time it took. */
  private def passes(first: Int, min: Int)(one: Int => Pass): Seq[Pass] = {
    val out = mutable.ArrayBuffer.empty[Pass]
    var spent = 0.0
    var i = first
    while (out.size < min || spent < args.seconds) {
      val p = one(i)
      log(f"pass $i ${p.seconds}%.3f s")
      out += p
      spent += p.seconds
      i += 1
    }
    out.toSeq
  }

  def execute(): Map[String, Any] = args.workload match {
    case "era5_rechunk" | "era5_climatology" => era5()
    case "gates_mix" => gates(Main.gatesMix)
    case "gates_dedup" => gates(Main.gatesDedup)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // ------------------------------------------------------------------ ERA5

  private def era5(): Map[String, Any] = {
    val spec = if (args.scale == "tiny") Era5Spec.tiny else Era5Spec.full
    val e = new Era5(spec, args.seed, args.cores)
    val rechunk = args.workload == "era5_rechunk"
    val src = work.resolve("era5_source")
    val dst = work.resolve("era5_target")
    val g0 = System.nanoTime()
    e.writeSource(src.toString)
    val genSec = (System.nanoTime() - g0) / 1e9
    log("generated the source store")
    val (maxMem, plan) = e.rechunkPlan(4L * spec.vars.size)
    val groups: NdArray = {
      val ns = XbeamDataset.fromZarr(spark, src.toString).template.coords("time").toLongs
      require(ns.sameElements(e.timeNs), "time coordinate did not round-trip")
      NdArray.fromLongs(DType.I64, Array(spec.times), Array.tabulate(spec.times)(e.groupOf))
    }
    val reference = if (rechunk) Map.empty[String, Array[Double]] else {
      val t0 = System.nanoTime()
      val r = e.referenceClimatology(src.toString)
      layer("ndarray.single_thread_s") = (System.nanoTime() - t0) / 1e9
      r
    }

    def pipeline(): Unit = {
      val ds = tracer.span("plan", "api") {
        val in = XbeamDataset.fromZarr(spark, src.toString)
        if (!rechunk) in.assignCoords("time", groups).groupbyCoordMean("time")
        // the injected fault skips the rechunk: the right values in the
        // source chunking
        else if (args.inject.contains("era5_chunks")) in
        else in.rechunk(spec.targetChunks, maxMem)
      }
      tracer.span("toZarr", "api") {
        ds.toZarr(dst.toString, compressor = Some("zstd"), zarrFormat = 3)
      }
    }
    def check(i: Int): Unit = {
      if (args.inject.contains("era5")) {
        val meta = graft.sources.Zarr.readArrayMeta(dst.toString, spec.vars.head)
        // -1 is neither a value of the field nor the fill value, so the
        // chunk is really rewritten
        graft.sources.Zarr.writeRegion(dst.toString, spec.vars.head, meta,
          Array.fill(3)(0L), NdArray.fill(meta.dtype, meta.chunks.toArray, -1.0))
      }
      val bad =
        if (rechunk) e.mismatches(dst.toString)
        else e.climatologyMismatches(dst.toString, reference, 1e-9)
      if (bad != 0) failures += s"pass $i: $bad values differ from the expected " +
        "output or are not stored in the expected chunking"
      log(s"checked pass $i")
    }
    def pass(i: Int): Pass = {
      Util.deleteRecursively(dst) // outside the timed region
      attempted += 1
      var threw = false
      val p = timedPass(i) {
        try pipeline() catch {
          case ex: Throwable =>
            failures += s"pass $i threw ${ex.getClass.getName}: ${ex.getMessage}"
            threw = true
        }
      }
      if (!threw) check(i)
      p
    }

    // two untimed warmup passes: the chunk engine's pass time keeps
    // falling for about two passes while the JIT compiles it
    val w0 = System.nanoTime()
    pass(-1)
    pass(0)
    val warmSec = (System.nanoTime() - w0) / 1e9
    System.gc()
    val all = measure(pass)
    val passSec = all.map(_.seconds)
    extra("setup_parts") = Map("generate_s" -> genSec, "warmup_s" -> warmSec)
    extra("input") = Map("uncompressed_mib" -> spec.inputMiB,
      "on_disk_mib" -> Util.dirBytes(src) / MiB,
      "shape" -> spec.dims.map(d => s"${d._1}=${d._2}").mkString(","),
      "source_chunks" -> spec.sourceChunks, "target_chunks" -> spec.targetChunks,
      "rechunk_max_mem_mb" -> maxMem / MiB, "rechunk_stages" -> plan.stages.size)
    if (args.trace) {
      if (rechunk) {
        val sh = tracer.taskAgg(_ == "api/toZarr")
        layer("operators.rechunk_shuffle_mb") = sh.shuffleWriteBytes / MiB / traced.size
        layer("ndarray.bytes_moved_mb") = spec.inputMiB * plan.stages.size
      }
      layer("api.plan_ms") = spanMs("api/plan")
      layer("api.action_ms") = spanMs("api/toZarr")
    }
    Util.deleteRecursively(dst)
    result(genSec + warmSec, passSec, passSec, spec.inputMiB)
  }

  // ----------------------------------------------------------------- gates

  private def gates(codes: Seq[String]): Map[String, Any] = {
    val g = new Gates(spark, args.data, codes, tracer, args.inject)
    val dump = work.resolve("dump")
    Util.deleteRecursively(dump)
    val golden = mutable.LinkedHashMap.empty[String, (Long, Long)]
    val runs = mutable.ArrayBuffer.empty[GateRun]
    def record(r: GateRun): Unit = {
      log(f"gate ${r.gate} pass ${r.pass} ${r.seconds}%.3f s${r.error.fold("")(" " + _)}")
      attempted += 1
      runs += r
      r.error match {
        case Some(err) => failures += s"${r.gate} pass ${r.pass} threw $err"
        case None => golden.get(r.gate) match {
          case None => golden(r.gate) = (r.rows, r.hash)
          case Some(want) if want != ((r.rows, r.hash)) =>
            failures += s"${r.gate} pass ${r.pass}: ${r.rows} rows, hash ${r.hash}; " +
              s"the warmup gave ${want._1} rows, hash ${want._2}"
          case _ =>
        }
      }
    }
    // Warmup: the first executions are mostly first-use cost (class
    // loading, JIT, whole-stage codegen), so this untimed pass runs the
    // gates concurrently on `cores` threads and dumps their results for
    // the oracle comparison.
    val w0 = System.nanoTime()
    Util.parallel(g.names.size, args.cores)(k => g.run(g.names(k), 0, Some(dump.toString)))
      .foreach(record)
    val warmSec = (System.nanoTime() - w0) / 1e9
    System.gc()
    val all = measure(i => timedPass(i)(g.names.foreach(n => record(g.run(n, i)))))
    // failed executions stay in every latency sample and median
    val timedRuns = runs.filter(_.pass > 0)
    val lat = timedRuns.map(_.seconds).toSeq
    extra("setup_parts") = Map("warmup_s" -> warmSec)
    extra("gates") = g.names.map { n =>
      val rs = runs.filter(_.gate == n)
      n -> Map("executions" -> rs.size, "failed" -> rs.count(!_.ok),
        "rows" -> golden.get(n).map(_._1), "hash" -> golden.get(n).map(_._2),
        "median_s" -> Util.median(rs.filter(_.pass > 0).map(_.seconds).toSeq))
    }.toMap
    extra("oracle_sql") = g.oracleSql
    extra("dump_dir") = dump.toString
    if (args.trace) {
      val tr = runs.filter(r => tracedPasses.contains(r.pass))
      layer("api.plan_ms") = tr.map(_.callSeconds).sum * 1000 / traced.size
      layer("api.action_ms") = tr.map(r => r.seconds - r.callSeconds).sum * 1000 / traced.size
      g.names.foreach { n =>
        layer(s"queries.${g.code(n)}_s") =
          Util.median(timedRuns.filter(_.gate == n).map(_.seconds).toSeq)
      }
    }
    result(warmSec, all.map(_.seconds), lat, args.inputMiB)
  }

  // ------------------------------------------------------- measurement

  private var traced: Seq[Pass] = Nil
  private var tracedPasses: Set[Int] = Set.empty
  private var untracedSec: Seq[Double] = Nil

  /** Timed passes for `seconds`. A traced run alternates untraced and
    * traced passes (so JIT progress affects both alike), traces only
    * the latter, and reports the difference of their medians as the
    * tracing overhead. */
  private def measure(pass: Int => Pass): Seq[Pass] = {
    val minPasses = 3
    if (!args.trace) passes(1, minPasses)(pass)
    else {
      val jvm = mutable.ArrayBuffer.empty[(Long, Long)]
      val sampler = new JvmStats.LiveHeapSampler
      val all = passes(1, 2) { i =>
        val on = i % 2 == 0
        if (!on) pass(i)
        else {
          val j0 = JvmStats.snapshot()
          tracer.start()
          val p = pass(i)
          tracer.stop()
          val j1 = JvmStats.snapshot()
          jvm += ((j1.gcMs - j0.gcMs, j1.jitMs - j0.jitMs))
          p
        }
      }
      sampler.close()
      traced = all.zipWithIndex.collect { case (p, k) if k % 2 == 1 => p }
      tracedPasses = all.indices.filter(_ % 2 == 1).map(_ + 1).toSet
      untracedSec = all.indices.filter(_ % 2 == 0).map(all(_).seconds)
      sparkLayer(traced)
      layer("jvm.gc_ms") = jvm.map(_._1).sum.toDouble / traced.size
      layer("jvm.jit_ms") = jvm.map(_._2).sum.toDouble / traced.size
      layer("jvm.live_heap_peak_mb") = sampler.peakBytes / MiB
      extra("trace_overhead_s") =
        Util.median(traced.map(_.seconds)) - Util.median(untracedSec)
      all
    }
  }

  private def spanMs(group: String): Double =
    tracer.spans.filter(_.group == group).map(_.seconds).sum * 1000 / traced.size

  private def sparkLayer(ps: Seq[Pass]): Unit = {
    val n = ps.size.toDouble
    val pick: String => Boolean = g => !g.startsWith("probe/")
    val a = tracer.taskAgg(pick)
    val wallMs = ps.map(p => p.endMs - p.startMs).sum.toDouble
    val busy = ps.map(p => tracer.busyMs(p.startMs, p.endMs)).sum.toDouble
    val inPass = (t: Long) => ps.exists(p => t >= p.startMs && t <= p.endMs)
    val durs = a.durationsMs.map(_.toDouble).toSeq
    layer("spark.outside_jobs_ms") = (wallMs - busy) / n
    layer("spark.planning_ms") =
      tracer.planningMs.filter(x => inPass(x._1)).map(_._2).sum / n
    layer("spark.jobs") = tracer.jobs.values.count(j => pick(j._1)) / n
    layer("spark.stages") = tracer.stagesRun.filter(kv => pick(kv._1)).values.sum / n
    layer("spark.tasks") = a.tasks / n
    layer("spark.shuffle_write_mb") = a.shuffleWriteBytes / MiB / n
    layer("spark.shuffle_read_mb") = a.shuffleReadBytes / MiB / n
    layer("spark.spill_mb") = a.spillBytes / MiB / n
    layer("spark.executor_run_ms") = a.runMs / n
    layer("spark.executor_cpu_ms") = a.cpuNs / 1e6 / n
    layer("spark.cpu_util") = a.cpuNs / 1e6 / (wallMs * args.cores)
    layer("spark.gc_ms") = a.gcMs / n
    layer("spark.task_p50_ms") = if (durs.isEmpty) 0.0 else Util.median(durs)
    layer("spark.task_max_ms") = if (durs.isEmpty) 0.0 else durs.max
    layer("spark.failed_tasks") = a.failedTasks.toDouble
    layer("spark.peak_exec_mem_mb") = a.peakExecMem / MiB
    layer("sources.chunks_read") = tracer.accums("graft.read-chunks") / n
    layer("sources.chunks_written") = tracer.accums("graft.write-chunks") / n
    layer("sources.store_mb_written") = tracer.accums("graft.write-bytes") / MiB / n
    val b = tracer.batches.toSeq
    layer("streaming.batches") = b.size / n
    layer("streaming.batch_p50_ms") =
      if (b.isEmpty) 0.0 else Util.median(b.map(_.getOrElse("triggerExecution", 0L).toDouble))
    layer("streaming.planning_ms") = b.map(_.getOrElse("queryPlanning", 0L)).sum / n
    layer("streaming.walcommit_ms") =
      b.map(d => d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)).sum / n
  }

  private def probes(): Unit = {
    val p = new Probes(spark, tracer, work, args.seed, args.cores,
      if (args.scale == "tiny") 4L << 20 else 420L << 20)
    val spec = if (args.scale == "tiny") Era5Spec.tiny else Era5Spec.full
    tracer.start()
    val t0 = System.nanoTime()
    layer ++= p.sources()
    layer ++= p.ndarray(spec.pencil)
    layer ++= p.core()
    layer ++= p.operators(spec)
    layer ++= p.bridge()
    layer ++= p.functions()
    tracer.stop()
    extra("probes_s") = (System.nanoTime() - t0) / 1e9
    Util.writeText(work.resolve("spans.json"), tracer.toJson)
  }

  private def result(setupSec: Double, passSec: Seq[Double], latencies: Seq[Double],
                     inputMiB: Double): Map[String, Any] = {
    if (args.trace) probes()
    log("done")
    val wall = Util.median(passSec)
    val (tailV, tailP, tailN) = Util.tail(latencies)
    Map(
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "pass_s" -> passSec,
      "untraced_pass_s" -> untracedSec,
      "e2e" -> Map(
        "setup_jvm_s" -> setupSec,
        "wall_s" -> wall,
        "mb_per_s" -> inputMiB / wall,
        "query_p50_s" -> Util.median(latencies),
        "query_tail_s" -> tailV),
      "query_tail" -> Map("percentile" -> tailP, "samples" -> tailN),
      "layer" -> layer.toMap) ++ extra
  }
}

/** JVM-wide GC and JIT counters, and a sampler of the live heap (pool
  * usage right after the most recent collection). */
object JvmStats {
  final case class Snap(gcMs: Long, jitMs: Long)
  def snapshot(): Snap = Snap(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  final class LiveHeapSampler {
    @volatile private var running = true
    @volatile var peakBytes = 0L
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getCollectionUsage != null)
    private val thread = new Thread(() => {
      while (running) {
        val live = pools.map(_.getCollectionUsage.getUsed).sum
        if (live > peakBytes) peakBytes = live
        Thread.sleep(20)
      }
    })
    thread.setDaemon(true)
    thread.start()
    def close(): Unit = { running = false; thread.join() }
  }
}
