package graft
object Bench {
  def main(args: Array[String]): Unit = {
    // Heap guard: the recorded baseline assumes the pinned 8 GiB forked
    // heap (build.sbt). EITHER direction off that regime invalidates
    // the numbers (measured: a 96 GiB heap runs the same suite ~1.35x
    // slower from G1 behavior alone), so fail loudly instead of
    // producing quietly-incomparable timings.
    locally {
      val maxGb = Runtime.getRuntime.maxMemory / (1 << 30).toDouble
      require(maxGb >= 7.5 && maxGb <= 12.0,
        f"Bench requires the pinned 8 GiB forked heap (got $maxGb%.1f GiB). " +
          "Unset SPARK_GRAFT_HEAP (build.sbt pins 8g); numbers from any " +
          "other heap are not comparable to BASELINE.md.")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    // Host-IO drift sentinel (see BASELINE.md "Store-write drift
    // sentinel"): a FIXED 32 MiB uncompressed local zarr write (setup +
    // 4 region writes of an 8 MiB block), measured in isolation before
    // any suite work, one untimed warm rep then best-of-3. Store-write
    // and micro-batch gates have drifted 1.3–2.7x across rounds purely
    // from host IO/load; when this sentinel reads >= 1.3x its recorded
    // reference, rescale the store-write rows by (sentinel / reference)
    // instead of re-recording each one ad hoc with an isolated A/B.
    // Round 20: measured as a BRACKET — once here at suite start and
    // once again after all timing — because mid-suite host drift is
    // invisible to a start-only sentinel (r19: seven store gates read
    // 1.4–1.9× with both start sentinels in band; the isolated A/B
    // exonerated the code). Either bracket out of band, or the two
    // brackets disagreeing by >1.3×, classifies the run drift-flagged.
    def measureWriteSentinel(): Double = try {
      import graft.core.{Template, VarSpec}
      import graft.ndarray.{DType, NdArray}
      val tmpl = Template(Seq("t" -> 2048L, "x" -> 2048L),
        Map("v" -> VarSpec(Seq("t", "x"), DType.F64)), Map.empty, Map.empty)
      val block = NdArray.zeros(DType.F64, Array(512, 2048))
      val meta = graft.sources.Zarr.ArrayMeta(
        Seq(2048L, 2048L), Seq(512, 2048), DType.F64, Seq("t", "x"),
        None, Double.NaN)
      def once(): Double = {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_sentinel").toString
        val t0 = System.nanoTime()
        graft.sources.Zarr.setupStore(dir, tmpl, Map("t" -> 512, "x" -> 2048))
        (0 until 4).foreach { i =>
          graft.sources.Zarr.writeRegion(dir, "v", meta,
            Array(i * 512L, 0L), block)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        graft.core.Fs.deleteRecursively(dir)
        dt
      }
      once() // warm the IO path untimed
      (1 to 3).map(_ => once()).min
    } catch { case _: Throwable => -1.0 }
    val sentinelSec: Double = measureWriteSentinel()
    // Host-IO READ drift sentinel (round 19+; see BASELINE.md "Store
    // read drift sentinel"): the write sentinel cannot see drift on the
    // re-read half of write-then-reread gates (x05/x10/x109/x110 read
    // 2.3-3.5x baseline in the r18 driver run while the write sentinel
    // sat in band at 1.16x; the isolated A/B proved the code innocent).
    // Measure the read path directly: two FIXED 32 MiB stores written
    // once untimed — (a) v3+zstd in 64 chunks of 512 KiB (per-file open
    // + decode, the many-small-GETs shape of a chunked store re-read)
    // and (b) v3 sharded uncompressed, 2 shards x 32 inner chunks
    // (shard-index fetch + ranged GETs of the shard interior) — then a
    // timed full decode of (a) plus interior ranged reads of (b), one
    // untimed warm rep then best-of-3. Page cache is deliberately warm:
    // the gates this governs re-read stores they just wrote.
    def measureReadSentinel(): Double = try {
      import graft.core.{Template, VarSpec}
      import graft.ndarray.{DType, NdArray}
      import graft.sources.Zarr
      val tmpl = Template(Seq("t" -> 2048L, "x" -> 2048L),
        Map("v" -> VarSpec(Seq("t", "x"), DType.F64)), Map.empty, Map.empty)
      // Moderately compressible payload: repeating value cycle so zstd
      // really compresses (decode does real work) without the
      // all-zeros degenerate case (near-free decode).
      val block = NdArray.zeros(DType.F64, Array(512, 2048))
      locally {
        var i = 0
        while (i < 512 * 2048) { block.setDouble(i, (i % 4099) * 0.5); i += 1 }
      }
      val dirA = java.nio.file.Files
        .createTempDirectory("graft_sentinel_rd_a").toString
      val dirB = java.nio.file.Files
        .createTempDirectory("graft_sentinel_rd_b").toString
      Zarr.setupStore(dirA, tmpl, Map("t" -> 128, "x" -> 512),
        compressor = Some("zstd"), zarrFormat = 3)
      Zarr.setupStore(dirB, tmpl, Map("t" -> 128, "x" -> 512),
        zarrFormat = 3, shards = Map("t" -> 1024, "x" -> 2048))
      (0 until 4).foreach { i =>
        val st = Array(i * 512L, 0L)
        Zarr.writeRegion(dirA, "v",
          Zarr.readArrayMeta(dirA, "v"), st, block)
      }
      (0 until 2).foreach { i =>
        val shard = NdArray.zeros(DType.F64, Array(1024, 2048))
        var j = 0
        while (j < 1024 * 2048) { shard.setDouble(j, (j % 4099) * 0.5); j += 1 }
        Zarr.writeRegion(dirB, "v",
          Zarr.readArrayMeta(dirB, "v"), Array(i * 1024L, 0L), shard)
      }
      val metaA = Zarr.readArrayMeta(dirA, "v")
      val metaB = Zarr.readArrayMeta(dirB, "v")
      def once(): Double = {
        val t0 = System.nanoTime()
        // (a) full chunked decode: 64 file opens + zstd decode of 32 MiB
        Zarr.readRegion(dirA, "v", metaA, Array(0L, 0L), Array(2048, 2048))
        // (b) four interior ranged reads, one inner chunk each, from
        // both shards (shard-index GET + ranged data GET per read)
        Seq(256L, 640L, 1280L, 1664L).foreach { t =>
          Zarr.readRegion(dirB, "v", metaB, Array(t, 512L), Array(128, 512))
        }
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm untimed
      val best = (1 to 3).map(_ => once()).min
      graft.core.Fs.deleteRecursively(dirA)
      graft.core.Fs.deleteRecursively(dirB)
      best
    } catch { case _: Throwable => -1.0 }
    val sentinelReadSec: Double = measureReadSentinel()
    // Untimed warmup: exercise whole-stage codegen, the shuffle path,
    // window exec, and the parquet reader once so the first measured
    // query doesn't absorb session/JIT initialization (~5s measured).
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val r = spark.range(10000).toDF("i")
      r.groupBy((col("i") % 7).as("k")).count().count()
      r.withColumn("rn",
        row_number().over(Window.partitionBy(col("i") % 7).orderBy(col("i"))))
        .filter(col("rn") === 1).count()
      r.groupBy(md5(col("i").cast("string")).as("k")).count()
        .orderBy(col("k")).count()
      // touch every table once: footer reads + schema inference are
      // first-use costs that otherwise land on whichever query reads
      // the table first. Each touch is individually guarded — a broken
      // loader must cost that table's queries, never the whole bench
      // (r11: one unguarded events read killed the round's entire perf
      // signal, rc=1 with zero timings).
      def warm(body: => Unit): Unit =
        try body catch { case _: Throwable => () }
      graft.queries.Tables.all.foreach { n =>
        warm(graft.queries.Tables.t(spark, sfDir, n).count())
      }
      // count() never materializes column pages; force one cold read of
      // the wide payload columns so the alphabetically-first text/vector
      // query (d01/e01) isn't charged for the whole parquet warmup.
      warm(graft.queries.Tables.t(spark, sfDir, "documents")
        .select(sum(length(col("text")))).collect())
      warm(graft.queries.Tables.t(spark, sfDir, "embeddings")
        .select(sum(size(col("embedding")))).collect())
    }
    // Dev-only subset filter (comma-separated names); driver leaves it unset.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.contains(n))
    }
    // Warmup pass: EVERY query runs once untimed in fixed (sorted)
    // order before ANY timing starts. Whole-stage-codegen compilation +
    // C2 JIT of the generated classes cost ~3 s on first execution and
    // are properties of the JVM, not of the plan; warming the whole
    // suite up front (instead of per-query immediately before its
    // timed reps) also evens out JIT/GC pressure so late-alphabet
    // queries aren't measured in a different JVM regime than early
    // ones. Cold, single-shot numbers at sub-second query times
    // measure mostly compiler latency and host scheduling noise; warm
    // best-of-N measures the execution plan.
    // Every failure, warmup or timed, is printed and names its gate in
    // the summary's "failed" list; any failure exits non-zero.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def attempt(name: String, phase: String)(body: => Unit): Boolean =
      try { body; true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed ($phase): $e")
          failed += name
          false
      }
    selected.foreach { case (name, fn) =>
      attempt(name, "warmup")(fn(spark, sfDir).count())
    }
    System.gc()
    // Clamped to >= 1 (0/negative/garbage would crash times.min below);
    // a failing rep records no time for the query (reported -1.0), so a
    // fast-failing query can never masquerade as fast.
    val timedReps = math.max(1, sys.env.get("SPARK_GRAFT_REPS")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(2))
    def timeOnce(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      if (attempt(name, "timed")(SparkEntry.queries(name)(spark, sfDir).count()))
        Some((System.nanoTime() - t0) / 1e9)
      else None
    }
    val repTimes = selected.map { case (name, _) =>
      val times = (1 to timedReps).flatMap(_ => timeOnce(name))
      // Nudge the driver GC so ContextCleaner can release broadcasts and
      // localCheckpoint blocks from this query before the next one runs:
      // with a large heap the JVM may otherwise not collect for the whole
      // suite, and accumulated storage blocks steal execution memory from
      // later queries (untimed, so it costs nothing measured).
      System.gc()
      name -> times
    }.toMap
    // Jitter protocol: warm best-of-2 at sf0.1 carries a ±0.3 s band on
    // shuffle-heavy queries with ZERO code change (observed across
    // rounds: d04 regressed +0.8 s then self-reverted; x22/x43 moved
    // ±0.3 s in a round that didn't touch them). Sub-±0.3 s deltas are
    // noise, not regressions. To tighten the tail where it matters, the
    // 10 slowest queries get a third warm rep and report best-of-3.
    val slow10 = repTimes.toSeq.filter(_._2.nonEmpty).sortBy(-_._2.min)
      .take(10).map(_._1).toSet
    val allTimes = repTimes.map { case (name, ts) =>
      if (ts.isEmpty || !slow10(name)) name -> ts
      else {
        val extra = timeOnce(name)
        System.gc()
        name -> (ts ++ extra)
      }
    }
    val tightened = allTimes.map { case (name, ts) =>
      name -> (if (ts.nonEmpty) ts.min else -1.0)
    }
    // Per-query spread (max - min across warm reps): the measured
    // noise floor of this run, reported so a cross-round delta can be
    // judged against the variance actually observed rather than the
    // declared ±0.3 s band.
    val spreads = allTimes.collect {
      case (name, ts) if ts.size >= 2 => name -> (ts.max - ts.min)
    }
    // End-of-run sentinel bracket: re-measure the SAME write/read
    // sentinels after all timing (untimed, so it costs nothing
    // measured). The start/end pair classifies mid-suite host IO drift
    // that a start-only measurement cannot see.
    val sentinelEndSec: Double = measureWriteSentinel()
    val sentinelReadEndSec: Double = measureReadSentinel()
    // Drift classification per BASELINE.md's rescale rule: a run is
    // drift-flagged when EITHER bracket of EITHER sentinel is out of
    // band (>= 1.3× its recorded reference) or the two brackets of a
    // sentinel disagree by > 1.3× (the host moved mid-suite). A failed
    // sentinel (-1) flags too: an unjudgeable run must not read clean.
    val WriteRef = 0.043 // BASELINE.md "Store-write drift sentinel"
    val ReadRef = 0.095 // BASELINE.md "Store read drift sentinel"
    def outOfBand(v: Double, ref: Double): Boolean = v < 0 || v >= 1.3 * ref
    // Disagreement compares brackets CLAMPED at the reference: the end
    // bracket routinely reads faster than the start one on an idle host
    // (the IO path and its codecs are fully C2-compiled by suite end),
    // and a benign sub-reference speedup must not read as drift — only
    // slower-than-reference movement between the brackets does.
    def bracketsDisagree(a: Double, b: Double, ref: Double): Boolean =
      a < 0 || b < 0 || {
        val (ca, cb) = (math.max(a, ref), math.max(b, ref))
        math.max(ca, cb) / math.min(ca, cb) > 1.3
      }
    val driftFlagged =
      outOfBand(sentinelSec, WriteRef) || outOfBand(sentinelEndSec, WriteRef) ||
        outOfBand(sentinelReadSec, ReadRef) ||
        outOfBand(sentinelReadEndSec, ReadRef) ||
        bracketsDisagree(sentinelSec, sentinelEndSec, WriteRef) ||
        bracketsDisagree(sentinelReadSec, sentinelReadEndSec, ReadRef)
    // A failed gate has no comparable time, so neither has the suite:
    // the total is -1 and "failed" names the gates.
    val total = if (failed.isEmpty) tightened.values.sum else -1.0
    val failedJson = failed.toSeq.sorted.map(n => s"\"$n\"").mkString("[", ",", "]")
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // Full per-query detail goes to a file; stdout gets ONE compact JSON
    // line. The harness that collects our stdout keeps only the last ~2000
    // characters (observed across rounds: the line overflowed and was never
    // parsed), so the printed line must stay well under that including the
    // build tool's trailing "[success] ..." line. Emit every query if it
    // fits, else the slowest ones that do plus an elided count — "value"
    // (the total) always covers the whole suite either way.
    val allEntries = tightened.toSeq.sortBy { case (_, v) => -v }
      .map { case (k, v) => s"\"$k\":${fmt(v)}" }
    val detail = allEntries.mkString("{", ",", "}")
    val timing = s"full-suite warmup then best-of-$timedReps (slowest 10: +1 rep)"
    val jitter = "suite jitter ~+/-0.3s/query on shuffle-heavy paths"
    // Spread summary for the one-line report; the full per-query rep
    // lists live in bench_detail.json.
    val spreadVals = spreads.values.toSeq.sorted
    def spreadAt(p: Double): Double =
      if (spreadVals.isEmpty) 0.0
      else spreadVals(math.min(spreadVals.size - 1, (p * spreadVals.size).toInt))
    val spreadJson =
      s"""{"med":${fmt(spreadAt(0.5))},"p90":${fmt(spreadAt(0.9))},"max":${fmt(if (spreadVals.isEmpty) 0.0 else spreadVals.max)}}"""
    // JVM-regime diagnostics, captured AFTER all timing (cannot perturb
    // the measurements): per-CodeHeap occupancy (a full code cache turns
    // C2 off and leaves late-suite queries partially interpreted — the
    // 240 MB-default episode cost ~1.5x on affected queries), cumulative
    // JIT compilation time, and GC totals. Written to bench_detail.json
    // so a suite-vs-isolated delta can be attributed to the JVM regime
    // rather than guessed at.
    val jvmDiag: String = try {
      import scala.jdk.CollectionConverters._
      val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "CodeCache")
        .map { p =>
          val u = p.getUsage
          s""""${p.getName}":{"used_mb":${u.getUsed / 1048576},"max_mb":${u.getMax / 1048576}}"""
        }.mkString("{", ",", "}")
      val jit = java.lang.management.ManagementFactory.getCompilationMXBean
      val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(g => s""""${g.getName}":{"count":${g.getCollectionCount},"time_ms":${g.getCollectionTime}}""")
        .mkString("{", ",", "}")
      s""""jvm":{"code_heaps":$pools,"jit_total_ms":${jit.getTotalCompilationTime},"gc":$gc}"""
    } catch { case _: Throwable => "\"jvm\":{}" }
    try {
      val repsDetail = allTimes.toSeq.sortBy(_._1).map { case (k, ts) =>
        s"\"$k\":[${ts.map(fmt).mkString(",")}]"
      }.mkString("{", ",", "}")
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_detail.json"),
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","timing":"$timing","jitter":"$jitter","spread":$spreadJson,"sentinel_store_write_sec":${fmt(sentinelSec)},"sentinel_store_read_sec":${fmt(sentinelReadSec)},"sentinel_store_write_end_sec":${fmt(sentinelEndSec)},"sentinel_store_read_end_sec":${fmt(sentinelReadEndSec)},"drift_flagged":$driftFlagged,"failed":$failedJson,$jvmDiag,"queries":$detail,"reps":$repsDetail,"sf":"$sfDir"}""".getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    val budget = 1600
    // "detail" names the committed file carrying ALL per-query rows +
    // raw rep lists (the stdout line elides the fast tail to stay under
    // the harness's ~2000-char stdout retention — an overflowed line is
    // never parsed at all, observed r04); independent per-query audits
    // read bench_detail.json, which is committed every round.
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","timing":"$timing","jitter":"$jitter","spread":$spreadJson,"sentinel_store_write_sec":${fmt(sentinelSec)},"sentinel_store_read_sec":${fmt(sentinelReadSec)},"sentinel_store_write_end_sec":${fmt(sentinelEndSec)},"sentinel_store_read_end_sec":${fmt(sentinelReadEndSec)},"drift_flagged":$driftFlagged,"failed":$failedJson,"n":${tightened.size},"detail":"bench_detail.json","sf":"$sfDir","""
    var used = head.length + 40 // room for closing braces + elided field
    val kept = allEntries.takeWhile { e => used += e.length + 1; used <= budget }
    val elided = allEntries.size - kept.size
    val summaryLine =
      head + s""""elided":$elided,"queries":${kept.mkString("{", ",", "}")}}"""
    // The driver-readable half of the contract: 21 rounds of BENCH_r*.json
    // show `parsed: null` because the stdout line arrives wrapped in the
    // build tool's "[info] " prefix with a trailing "[success]" line the
    // driver-side parser chokes on. Write the IDENTICAL one-line summary
    // to a fixed file at the repo root (robust to any stdout decoration)
    // AND still print it as the last line (stdout behavior unchanged).
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_SUMMARY.json"),
      (summaryLine + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(summaryLine)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} failed gate(s): " +
        failed.toSeq.sorted.mkString(" "))
      sys.exit(1)
    }
  }
}
