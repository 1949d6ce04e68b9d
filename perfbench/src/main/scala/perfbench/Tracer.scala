package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of harness code: a call into a layer, a gate call
  * with its materialization, or a whole pass. `group` is the Spark job
  * group set while the span is open, so jobs are tied to spans;
  * `parent` is the group of the enclosing span ("" at the top). */
final case class Span(name: String, layer: String, group: String, parent: String,
                      startMs: Long, endMs: Long, seconds: Double)

/** Spark task metrics summed over a set of tasks. */
final class TaskAgg {
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  val durationsMs = mutable.ArrayBuffer.empty[Long]
}

/** In-memory trace of one run: spans recorded by the harness plus what
  * Spark's public listeners report while tracing is on (jobs, stages,
  * task metrics, named accumulator updates, query-planning phases and
  * streaming progress). Listener callbacks arrive on Spark's listener
  * threads, so every mutation is synchronized on this object. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  @volatile private var on = false

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, (String, Long)] // id -> (group, startMs)
  val jobEnds = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val stagesRun = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  val tasks = mutable.HashMap.empty[String, TaskAgg]
  val accums = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  val planningMs = mutable.ArrayBuffer.empty[(Long, Long)] // (endMs, ms)
  val batches = mutable.ArrayBuffer.empty[Map[String, Long]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.JobGroup))).getOrElse("")
      jobs(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      if (jobs.contains(e.jobId)) jobEnds(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(g => stagesRun(g) += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val a = tasks.getOrElseUpdate(g, new TaskAgg)
        a.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) a.failedTasks += 1
        a.durationsMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
        }
        e.taskInfo.accumulables.foreach { ai =>
          (ai.name, ai.update) match {
            case (Some(n), Some(v: java.lang.Long)) if n.startsWith("graft.") =>
              accums(n) += v.longValue
            case _ =>
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        val ph = qe.tracker.phases
        val ms = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs).sum
        Tracer.this.synchronized { planningMs += ((System.currentTimeMillis(), ms)) }
      }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) {
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        Tracer.this.synchronized { batches += d }
      }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def start(): Unit = on = true

  /** Stop recording and wait until every traced job's end event has been
    * delivered (listener delivery is asynchronous). */
  def stop(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    def pending = synchronized(jobs.keySet.exists(j => !jobEnds.contains(j)))
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(200) // trailing task-end and progress events
    on = false
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `body` as a span; while tracing, Spark jobs it starts carry the
    * span's job group. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val group = s"$layer/$name"
    val prev = sc.getLocalProperty(Tracer.JobGroup)
    val parent = Option(prev).getOrElse("")
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    try body
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, "", false)
      if (on) synchronized {
        spans += Span(name, layer, group, parent, w0, System.currentTimeMillis(), dt)
      }
    }
  }

  /** The recorded spans and traced jobs as JSON, for the run's trace file. */
  def toJson: String = synchronized {
    Util.Json.render(Map(
      "spans" -> spans.map(x => Map("name" -> x.name, "layer" -> x.layer,
        "group" -> x.group, "parent" -> x.parent, "start_ms" -> x.startMs,
        "end_ms" -> x.endMs, "seconds" -> x.seconds)),
      "jobs" -> jobs.toSeq.map { case (id, (g, st)) =>
        Map("id" -> id, "group" -> g, "start_ms" -> st, "end_ms" -> jobEnds.get(id))
      }))
  }

  /** Sum of task metrics over groups accepted by `pick`. */
  def taskAgg(pick: String => Boolean): TaskAgg = synchronized {
    val out = new TaskAgg
    tasks.foreach { case (g, a) =>
      if (pick(g)) {
        out.tasks += a.tasks; out.failedTasks += a.failedTasks
        out.runMs += a.runMs; out.cpuNs += a.cpuNs; out.gcMs += a.gcMs
        out.shuffleWriteBytes += a.shuffleWriteBytes
        out.shuffleReadBytes += a.shuffleReadBytes
        out.spillBytes += a.spillBytes
        out.peakExecMem = math.max(out.peakExecMem, a.peakExecMem)
        out.durationsMs ++= a.durationsMs
      }
    }
    out
  }

  /** Milliseconds of [startMs, endMs) during which at least one traced
    * job was running. */
  def busyMs(startMs: Long, endMs: Long): Long = synchronized {
    val iv = jobs.toSeq.flatMap { case (id, (_, s)) =>
      jobEnds.get(id).map(e => (math.max(s, startMs), math.min(e, endMs)))
    }.filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy
  }
}

object Tracer {
  /** The local property under which SparkContext.setJobGroup stores the
    * group; listeners read it back from the job's properties. */
  val JobGroup = "spark.jobGroup.id"
}
