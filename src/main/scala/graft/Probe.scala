package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftshim.SessionBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev probe over named SparkEntry gates, on the GraftSession conf:
  *
  *   runMain graft.Probe <name1,name2,...>
  *
  * runs each gate once untimed, then two warm reps. Each rep prints its
  * wall time, one row per completed stage (wall ms, tasks, shuffle read
  * and write bytes, executor run and CPU ms) and, for streaming gates,
  * each micro-batch's `durationMs`.
  *
  *   runMain graft.Probe <name1,name2,...> <planDir> <suffix>
  *
  * runs nothing: it writes each gate's PRE-execution formatted plan to
  * `<planDir>/<name>_<suffix>.txt` — the plan evidence the plan-shape
  * claims cite (Exchange count, join strategy, PushedFilters and
  * ReadSchema); AQE's runtime re-optimizations are not visible there.
  * `spark.graft.queryScope=lazy` keeps the scoped-cache gates' full
  * plans (eager scoping would checkpoint the result and dump a bare
  * checkpoint scan).
  *
  * Reads `SPARK_GRAFT_SF_DIR` like Bench; exits 1 if any gate failed. */
object Probe {
  def main(args: Array[String]): Unit = {
    val (names, planOut) = args match {
      case Array(csv) => (csv.split(",").toSeq, None)
      case Array(csv, dir, suffix) => (csv.split(",").toSeq, Some((dir, suffix)))
      case _ => sys.error("usage: graft.Probe <name1,name2,...> [<planDir> <suffix>]")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(overrides =
      if (planOut.isEmpty) Nil else Seq("spark.graft.queryScope" -> "lazy"))
    var failed = 0
    def attempt(name: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          System.err.println(s"[probe] $name failed: $e")
          failed += 1
      }
    planOut match {
      case Some((dir, suffix)) =>
        Files.createDirectories(Paths.get(dir))
        names.foreach { name =>
          attempt(name) {
            val plan = SparkEntry.queries(name)(spark, sfDir)
              .queryExecution.explainString(FormattedMode)
            val out = Paths.get(dir, s"${name}_$suffix.txt")
            Files.writeString(out, plan)
            println(s"[probe] wrote $out")
          }
        }
      case None =>
        // rows queue up on the listener threads; each rep drains the bus
        // and prints them after its own line
        val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
            val si = e.stageInfo
            val m = si.taskMetrics
            val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
            rows.add(f"[probe]   stage ${si.stageId}%4d $ms%6d ms tasks=${si.numTasks}%4d " +
              s"shuffleRead=${m.shuffleReadMetrics.totalBytesRead}B " +
              s"shuffleWrite=${m.shuffleWriteMetrics.bytesWritten}B " +
              s"run=${m.executorRunTime}ms cpu=${m.executorCpuTime / 1000000}ms" +
              s" :: ${si.name.take(60)}")
          }
        })
        spark.streams.addListener(new StreamingQueryListener {
          override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
            val p = e.progress
            rows.add(s"[probe]   batch ${p.batchId} rows=${p.numInputRows} " +
              s"durationMs=${p.durationMs}")
          }
        })
        def run(name: String): Long = SparkEntry.queries(name)(spark, sfDir).count()
        def flush(): Unit = {
          SessionBridge.drainListeners(spark)
          while (!rows.isEmpty) println(rows.poll())
        }
        names.foreach { name =>
          attempt(name) {
            try run(name) finally { SessionBridge.drainListeners(spark); rows.clear() }
            (1 to 2).foreach { rep =>
              val t0 = System.nanoTime()
              try {
                val n = run(name)
                println(f"[probe] $name rep$rep ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
              } finally flush()
            }
            System.gc()
          }
        }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
